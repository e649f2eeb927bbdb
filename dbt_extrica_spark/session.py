"""SparkSession bootstrap + profile handling.

Mirrors the reference's connection layer (reference: connections.py:269-303 —
``trino.dbapi.connect(host, port, user, catalog, schema, session_properties,
…)``) as a local SparkSession factory. ``session_properties`` map to
``spark.conf.set``; ``threads`` maps to the DAG runner's thread pool (Spark is
thread-safe, one session shared). JWT auth (reference: token_handler.py:1-46)
is kept only as a pluggable no-op stub for API parity (:class:`AuthStub`).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# Configs safe to set on an existing session (runtime SQL confs).
_RUNTIME_DEFAULTS: dict[str, str] = {
    # TESTDATA parquet stores TIMESTAMP(NANOS); Spark rejects it unless nanos
    # are surfaced as long (we convert back to timestamps on registration —
    # see sources/registry.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp rendering vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: skew-join handling, shuffle-partition coalescing.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for the (few) pandas_udf paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


@dataclass
class Profile:
    """Local analog of the reference's profile (reference: README.md:36-62).

    Network fields (host/port/username/password) are accepted but unused —
    there is no remote coordinator; Spark *is* the engine.
    """

    catalog: str = "spark_catalog"
    schema: str = "analytics"
    threads: int = 4
    session_properties: dict[str, Any] = field(default_factory=dict)
    prepared_statements_enabled: bool = True  # reference: connections.py:24
    # accepted-and-ignored parity fields — the full reference credential
    # surface (reference: connections.py:84-99 field list, 283-295 usage;
    # impersonation_user is read via getattr at 284-286), so a reference
    # profiles.yml dict constructs a Profile verbatim
    host: str | None = None
    port: int | None = None
    username: str | None = None
    password: str | None = None
    http_scheme: str = "https"
    database: str | None = None
    user: str | None = None
    impersonation_user: str | None = None
    jwt_token: str | None = None
    refresh_token: str | None = None
    client_tags: list[str] | None = None
    roles: dict[str, str] | None = None
    http_headers: dict[str, str] | None = None
    cert: str | None = None
    retries: int | None = None
    timezone: str | None = None


class AuthStub:
    """API-parity stub for the reference's JWTHandler (token_handler.py:1-46).

    A local engine needs no bearer token; ``get_token`` returns a constant so
    callers written against the reference's surface keep working.
    """

    def __init__(self, profile: Profile | None = None) -> None:
        self.profile = profile or Profile()

    def get_token(self) -> str:
        return "local-no-auth"


def configure_session(spark: SparkSession, profile: Profile | None = None) -> SparkSession:
    """Apply runtime confs to an existing session (e.g. the driver's)."""
    for k, v in _RUNTIME_DEFAULTS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — leave as-is
    if profile:
        for k, v in profile.session_properties.items():
            spark.conf.set(k, str(v))
    return spark


def get_spark(
    app_name: str = "dbt_extrica_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    profile: Profile | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with scale-appropriate defaults.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[*]``.
    """
    import os

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        builder = builder.master(f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.ui.enabled", "false")
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    for k, v in _RUNTIME_DEFAULTS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return configure_session(spark, profile)


def local_frame(spark: SparkSession, rows: list[tuple],
                schema) -> DataFrame:
    """A DataFrame over driver-local rows (``schema`` is a DDL string or a
    StructType) that collects
    without a Spark job, rows in the given order. It is built from an Arrow
    table, a LocalRelation; ``createDataFrame(list)`` is an RDD scan
    instead, one job per action. For small reports and metadata only.

    TIMESTAMP values are read as PySpark returns them from ``collect``:
    naive datetimes in the Python process's local time zone (aware ones
    are exact), so collected rows round-trip unchanged."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import TimestampType, _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    arrays = []
    for c, f in zip(cols, schema.fields):
        if isinstance(f.dataType, TimestampType):
            # PySpark's own conversion, the inverse of the one collect
            # applies: microseconds since the epoch
            c = [None if v is None else f.dataType.toInternal(v) for v in c]
        arrays.append(pa.array(c, arrow.field(f.name).type))
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow), schema)
