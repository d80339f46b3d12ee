"""File-format sources (SURVEY §2c sources [P/X]).

The reference reads only JDBC; the engine adds the lakehouse path.
All readers are thin: the point is that Catalyst's datasource V2 scan
does pushdown/pruning (``PushedFilters``/``ReadSchema`` in explain),
so we never pre-materialize.
"""

from __future__ import annotations

import hashlib
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Settings that change what inference returns: footer types (e.g.
# ``binaryAsString``, ``int96AsTimestamp``, ``nanosAsLong``) and the
# types of ``k=v/`` partition columns.
_INFERENCE_CONF_PREFIXES = (
    "spark.sql.parquet.",
    "spark.sql.legacy.parquet.",
    "spark.sql.sources.partitionColumnTypeInference.",
)


def _inference_settings(spark: SparkSession) -> tuple[str, ...]:
    """The session's set conf entries under ``_INFERENCE_CONF_PREFIXES``
    as sorted ``"key -> value"`` strings.  One JVM call renders the whole
    conf: ``spark.conf.getAll`` makes a py4j round trip per entry, about
    40 ms for a session's 35."""
    conf = spark._jsparkSession.conf().getAll().mkString("\0")
    return tuple(
        sorted(
            e for e in conf.split("\0")
            if e.startswith(_INFERENCE_CONF_PREFIXES)
        )
    )


def _local_listing(path: str) -> bytes | None:
    """Digest of the sorted (relative path, size, ``st_mtime_ns``) of
    every file under a local file or directory, or None when ``path``
    has a scheme other than ``file:``, does not exist locally (a glob, a
    remote default filesystem) or changes while it is listed.  Digested
    so a cache entry stays 16 bytes for a directory of any size."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    local = url.path if url.scheme == "file" else path
    listing = []
    try:
        if os.path.isfile(local):
            st = os.stat(local)
            listing.append(("", st.st_size, st.st_mtime_ns))
        for root, _, files in os.walk(local):  # nothing for a file
            for name in files:
                full = os.path.join(root, name)
                st = os.stat(full)
                rel = os.path.relpath(full, local)
                listing.append((rel, st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    if not listing:
        return None
    text = repr(sorted(listing)).encode()
    return hashlib.blake2b(text, digest_size=16).digest()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan that infers a path's schema once and reuses it while
    the files under the path stay the same.

    Inference reads a footer in a one-task Spark job (about 90 ms on 4
    cores); a read with the schema given runs no job.  The cache key is
    the path plus the session's ``spark.sql.parquet.*``,
    ``spark.sql.legacy.parquet.*`` and
    ``spark.sql.sources.partitionColumnTypeInference.*`` settings, which
    change what inference returns.  Every read lists the path with one
    ``os.walk`` and reuses the schema only when (relative path, size,
    ``st_mtime_ns``) of every file equals the listing taken before that
    schema was inferred; any added, removed or rewritten file (a new
    ``k=v/`` partition too) is inferred again.  Paths with a scheme
    other than ``file:`` are always inferred, with no cache.  Limit: a
    rewrite in place that keeps a file's size and lands within one tick
    of the filesystem's timestamp is not detected.

    Each call returns a new relation with fresh attribute ids, so two
    reads of one path still self-join unambiguously.
    """
    # Legacy-layout support: the testdata once shipped events.ts as
    # parquet TIMESTAMP(NANOS), which Spark 4 aborts on unless read as
    # int64 nanoseconds.  Today's layout is TIMESTAMP(MICROS) NTZ
    # (untouched by this conf), but it is set dynamically — not only
    # in our session factory — because the driver's verify harness
    # calls queries() with its own session, and queries/_util
    # dispatches on the resulting dtype either way.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Listed before inference: a file that changes in between leaves a
    # listing that no later read matches, never a stale schema.
    listing = _local_listing(path)
    if listing is None:
        return spark.read.parquet(path)
    # One entry per path, on the session object: it goes with the
    # session, and a settings change replaces the entry.
    memo = getattr(spark, "_graft_schema_memo", None)
    if memo is None:
        memo = spark._graft_schema_memo = {}
    key = (_inference_settings(spark), listing)
    cached = memo.get(path)
    if cached is not None and cached[0] == key:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    memo[path] = (key, df.schema)
    return df


def read_csv(
    spark: SparkSession, path: str, *, header: bool = True, infer: bool = True
) -> DataFrame:
    return spark.read.csv(path, header=header, inferSchema=infer)


def read_json(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — the other columnar lakehouse format Spark ships a
    native vectorized reader for.  Same pushdown story as parquet:
    predicates and column pruning reach the ORC stripe reader
    (``PushedFilters``/``ReadSchema``), so the engine treats the two
    formats interchangeably."""
    return spark.read.orc(path)


def read_binary_files(
    spark: SparkSession, path: str, *, glob: str | None = None
) -> DataFrame:
    """Raw-media ingest: one row per file with the opaque payload.

    ``binaryFile`` is the multimodal on-ramp — images/audio/video land
    as ``(path, modificationTime, length, content binary)`` rows that
    feed the operators/multimodal.py stages.  Scale notes: the scan
    parallelizes per-file (no splitting inside a file), pathGlobFilter
    prunes at listing time, and
    ``spark.sql.sources.binaryFile.maxLength`` guards against a single
    oversized blob OOMing an executor; for billions of small files,
    compact into parquet with a binary column first (small-files
    problem) — which is exactly what pairing this reader with the
    parquet sink does.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md) through
    :func:`read_parquet`: the first load of an unchanged file infers its
    schema, later loads reuse it and submit no Spark job."""
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
