"""Data-quality tests — the dbt schema-test surface (`dbt test`).

The reference inherits these from dbt-core as Jinja SQL macros (unique,
not_null, accepted_values, relationships); each compiles to a SELECT whose
rows are VIOLATIONS (zero rows = pass). Same contract here: every function
returns a violations DataFrame, and :func:`run_checks` aggregates them into
a (check, violations) report.

All checks are single-scan aggregations or semi-joins — at 100 TB each is
one shuffle at most (relationships is a broadcast/anti-join on the parent
key set). :func:`run_checks` goes further and answers every check on one
table with one aggregation: one scan and one shuffle for all of them."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .session import local_frame


def test_unique(spark: SparkSession, table: str, column: str) -> DataFrame:
    """Rows = key values appearing more than once.
    :func:`_violation_counts` counts these rows in its one query per table;
    a change to this check's meaning is made there too."""
    return (
        spark.table(table)
        .where(F.col(column).isNotNull())
        .groupBy(column)
        .agg(F.count(F.lit(1)).alias("n_records"))
        .where(F.col("n_records") > 1)
    )


def test_not_null(spark: SparkSession, table: str, column: str) -> DataFrame:
    """Rows = records with a NULL in the column.
    :func:`_violation_counts` counts these rows in its one query per table;
    a change to this check's meaning is made there too."""
    return spark.table(table).where(F.col(column).isNull())


def test_accepted_values(spark: SparkSession, table: str, column: str,
                         values: list) -> DataFrame:
    """Rows = distinct values outside the accepted set.
    :func:`_violation_counts` counts these rows in its one query per table;
    a change to this check's meaning is made there too."""
    return (
        spark.table(table)
        .where(F.col(column).isNotNull())
        .where(~F.col(column).isin(values))
        .select(column)
        .distinct()
    )


def test_relationships(spark: SparkSession, table: str, column: str,
                       to_table: str, to_column: str) -> DataFrame:
    """Referential integrity: child values with no parent row (anti-join on
    the parent key set — broadcastable when the parent is a dimension).
    :func:`_violation_counts` counts these rows in its one query per table;
    a change to this check's meaning is made there too."""
    child = spark.table(table).where(F.col(column).isNotNull()) \
        .select(F.col(column).alias("__child_key"))
    parent = spark.table(to_table).select(
        F.col(to_column).alias("__parent_key")).distinct()
    return (
        child.join(parent, child.__child_key == parent.__parent_key,
                   "left_anti")
        .distinct()
        .withColumnRenamed("__child_key", column)
    )


def _check_df(spark: SparkSession, spec: dict) -> DataFrame:
    kind = spec["check"]
    if kind == "unique":
        return test_unique(spark, spec["table"], spec["column"])
    if kind == "not_null":
        return test_not_null(spark, spec["table"], spec["column"])
    if kind == "accepted_values":
        return test_accepted_values(spark, spec["table"], spec["column"],
                                    spec["values"])
    if kind == "relationships":
        return test_relationships(spark, spec["table"], spec["column"],
                                  spec["to_table"], spec["to_column"])
    raise ValueError(f"Unknown check: {kind!r}")


def _threshold_met(count: int, cond: str) -> bool:
    """dbt warn_if/error_if conditions: '!=0', '>10', '>=5' (count LHS)."""
    cond = cond.replace(" ", "")
    for op in (">=", "<=", "!=", "==", ">", "<", "="):
        if cond.startswith(op):
            n = int(cond[len(op):])
            return {
                ">=": count >= n, "<=": count <= n, "!=": count != n,
                "==": count == n, ">": count > n, "<": count < n,
                "=": count == n,
            }[op]
    raise ValueError(f"Unparseable threshold condition: {cond!r}")


# grouped checks per query: each is one GROUPING SETS column, and Spark
# allows at most 64 grouping columns
_MAX_CHECKS_PER_QUERY = 32


def _violation_counts(spark: SparkSession, table: str,
                      specs: list[dict]) -> list[int]:
    """Each spec's dbt violation count, every check on ``table`` answered by
    one query: a GROUPING SETS aggregation with one grouping per check, so
    the rows are scanned and shuffled once for all of them. It counts the
    rows of each check's own violations query (``test_unique`` etc.):

    - not_null: rows with a NULL, summed in the grand-total grouping;
    - unique: non-NULL values grouped with more than one row;
    - accepted_values: distinct non-NULL values outside the set (the
      grouping key is the value when it is outside, else NULL);
    - relationships: likewise, distinct non-NULL values no parent row
      has. Whether one has is an existence join on the parent's key
      (broadcast when the parent is a dimension), the anti-join's
      condition, so the parent is not shuffled.
    """
    cols, keys = [], []
    for i, spec in enumerate(specs):
        kind, col, v = spec["check"], F.col(spec["column"]), f"__v{i}"
        if kind == "not_null":
            cols.append(col.isNull().alias(v))
            continue
        if kind == "accepted_values":
            col = F.when(~col.isin(spec["values"]), col)
        elif kind == "relationships":
            found = spark.table(spec["to_table"]).where(
                F.col(spec["to_column"]) == col.outer()).exists()
            col = F.when(~found, col)
        elif kind != "unique":
            raise ValueError(f"Unknown check: {kind!r}")
        keys.append(v)
        cols.append(col.alias(v))
    rows = spark.table(table).select(*cols)
    nulls = [c for c in rows.columns if c not in keys]

    groups = rows.groupingSets([[k] for k in keys] + [[]], *keys).agg(
        F.count(F.lit(1)).alias("__n"),
        (F.grouping_id() == (1 << len(keys)) - 1).alias("__total"),
        *[F.grouping(k).alias(f"__g{k}") for k in keys],
        *[F.count_if(F.col(c)).alias(f"__nn{c}") for c in nulls])
    counts = []
    for i, spec in enumerate(specs):
        v = f"__v{i}"
        if spec["check"] == "not_null":
            counts.append(F.sum(F.when(F.col("__total"),
                                       F.col(f"__nn{v}"))).alias(v))
            continue
        hit = (F.col(f"__g{v}") == 0) & F.col(v).isNotNull()
        if spec["check"] == "unique":
            hit &= F.col("__n") > 1
        counts.append(F.count_if(hit).alias(v))
    # the totals over the groups are observed on a no-op write rather
    # than aggregated by a second shuffle to one partition: one Spark job
    # fewer
    totals = Observation()
    groups.observe(totals, *counts).write.format("noop").mode(
        "overwrite").save()
    return [int(totals.get[f"__v{i}"] or 0) for i in range(len(specs))]


def run_checks(spark: SparkSession, checks: list[dict],
               engine=None, store_failures: bool = False) -> DataFrame:
    """Run a list of check specs and report violation counts + status.

    Spec: {"check": "unique"|"not_null"|"accepted_values"|"relationships",
           "table": ..., "column": ..., [values | to_table/to_column],
           ["severity": "error"|"warn", "warn_if": "!=0",
            "error_if": "!=0"]}.

    The checks on one table run as one query (``_violation_counts``;
    up to ``_MAX_CHECKS_PER_QUERY`` checks each).
    dbt semantics: severity 'error' fails when ``error_if`` is met (else
    warns when ``warn_if`` is met); severity 'warn' can only warn.
    ``store_failures`` persists each failing check's violation rows to an
    audit table ``dbt_test_failures__<check>_<table>_<column>`` in the
    engine's schema (requires ``engine``), mirroring dbt's
    --store-failures. The report is driver-local: collecting it launches
    no Spark job.
    """
    by_table: dict[str, list[int]] = {}  # table -> indexes into checks
    for i, spec in enumerate(checks):
        severity = spec.get("severity", "error")
        if severity not in ("error", "warn"):
            raise ValueError(f"Invalid severity: {severity!r}")
        by_table.setdefault(spec["table"], []).append(i)
    counts = [0] * len(checks)
    for table, idx in by_table.items():
        for lo in range(0, len(idx), _MAX_CHECKS_PER_QUERY):
            part = idx[lo:lo + _MAX_CHECKS_PER_QUERY]
            specs = [checks[i] for i in part]
            for i, n in zip(part, _violation_counts(spark, table, specs)):
                counts[i] = n

    rows = []
    for spec, count in zip(checks, counts):
        kind = spec["check"]
        name = f"{kind}:{spec['table']}.{spec['column']}"
        if spec.get("severity", "error") == "error" and _threshold_met(
                count, spec.get("error_if", "!=0")):
            status = "error"
        elif _threshold_met(count, spec.get("warn_if", "!=0")):
            status = "warn"
        else:
            status = "pass"
        failures_table = None
        if store_failures and status != "pass":
            if engine is None:
                raise ValueError("store_failures requires an engine")
            ident = "dbt_test_failures__%s_%s_%s" % (
                kind, spec["table"].replace(".", "_"), spec["column"])
            rel = engine.relation(ident)
            existing = engine.catalog.get_relation(rel)
            if existing is not None:
                engine.catalog.drop_relation(existing)
            _check_df(spark, spec).write.format("parquet").saveAsTable(
                rel.render_unquoted())
            failures_table = ident
        rows.append((name, count, status, failures_table))
    return local_frame(
        spark, rows,
        "check string, violations bigint, status string,"
        " failures_table string",
    )


def source_freshness(spark: SparkSession, table: str, loaded_at_field: str,
                     warn_after_minutes: float | None = None,
                     error_after_minutes: float | None = None,
                     now: str | None = None) -> DataFrame:
    """`dbt source freshness` analog: age of the newest row vs warn/error
    thresholds (dbt's ``loaded_at_field`` + ``freshness: warn_after /
    error_after`` config, inherited untouched by the reference adapter).

    ``now`` pins the evaluation clock (ISO timestamp) for deterministic
    runs/tests; default is the wall clock like dbt's. Age is computed in
    microseconds and reported in minutes (double). An empty source (NULL
    max) is an error, matching dbt's runtime-error result. One MAX
    aggregation — at 100 TB this is a metadata-cheap partial/final agg,
    and a partition filter on recent data can bound it further."""
    now_expr = (F.expr(f"TIMESTAMP '{now}'") if now
                else F.current_timestamp())
    agg = spark.table(table).agg(
        F.max(F.col(loaded_at_field)).alias("max_loaded_at"))
    age = ((F.unix_micros(now_expr)
            - F.unix_micros(F.col("max_loaded_at"))) / 6e7)
    status = F.when(F.col("max_loaded_at").isNull(), F.lit("error"))
    if error_after_minutes is not None:
        status = status.when(age > float(error_after_minutes),
                             F.lit("error"))
    if warn_after_minutes is not None:
        status = status.when(age > float(warn_after_minutes), F.lit("warn"))
    return agg.select(
        F.lit(table).alias("source_table"),
        F.col("max_loaded_at"),
        age.cast("double").alias("age_minutes"),
        status.otherwise(F.lit("pass")).alias("status"),
    )


def run_unit_test(
    engine,
    model,
    given: dict[str, tuple[list[dict], str]],
    expect: tuple[list[dict], str],
) -> DataFrame:
    """dbt 1.8-style unit test: run a model's SQL against MOCKED refs and
    sources, compare to expected rows (multiset compare, NULL-safe).

    ``given`` maps a ref/source name -> (rows, schema DDL); ``expect`` is
    (rows, schema DDL) for the model output. Mock inputs resolve in place
    of real relations — the real tables are never touched or required.
    Returns a one-row report: (passed, n_actual, n_expected, n_missing,
    n_unexpected). Missing/unexpected are multiset differences.

    Mocks register as temp views, so the unit test runs on Catalyst like
    production but over literal LocalRelations — the plan is tiny and
    driver-local, exactly what a CI unit-test tier wants."""
    import uuid as _uuid

    spark = engine.spark
    views: dict[str, str] = {}
    for name, (rows, schema) in given.items():
        view = f"__unit_{name}_{_uuid.uuid4().hex[:8]}"
        spark.createDataFrame(rows, schema).createOrReplaceTempView(view)
        views[name] = view

    def resolve(name: str) -> str:
        if name in views:
            return views[name]
        raise ValueError(
            f"unit test references {name!r} with no mock in 'given'"
        )

    this = engine.relation(model.name).render()
    sql = model.render(resolve, resolve, this, is_incremental=False)
    actual = spark.sql(sql)
    expected = spark.createDataFrame(expect[0], expect[1])

    cols = expected.columns
    act = actual.select(*cols).groupBy(*cols).agg(
        F.count(F.lit(1)).alias("__n_a")).alias("a")
    exp = expected.groupBy(*cols).agg(
        F.count(F.lit(1)).alias("__n_e")).alias("e")
    # NULL-safe equality on every column: a NULL in expected must match a
    # NULL in actual (plain join-on-columns would drop those rows to both
    # sides of the diff)
    cond = None
    for c in cols:
        eq = F.col(f"a.{c}").eqNullSafe(F.col(f"e.{c}"))
        cond = eq if cond is None else (cond & eq)
    joined = act.join(exp, on=cond, how="full_outer").select(
        F.coalesce("__n_a", F.lit(0)).alias("na"),
        F.coalesce("__n_e", F.lit(0)).alias("ne"),
    ).agg(
        F.sum(F.greatest(F.col("ne") - F.col("na"), F.lit(0)))
        .alias("missing"),
        F.sum(F.greatest(F.col("na") - F.col("ne"), F.lit(0)))
        .alias("unexpected"),
    ).first()
    n_actual = actual.count()
    n_expected = expected.count()
    missing = int(joined.missing or 0)
    unexpected = int(joined.unexpected or 0)
    return spark.createDataFrame(
        [(missing == 0 and unexpected == 0, n_actual, n_expected,
          missing, unexpected)],
        "passed boolean, n_actual bigint, n_expected bigint,"
        " n_missing bigint, n_unexpected bigint",
    )
