"""Sink shape: atomic records (long) → ``conditions`` wide rows.

The reference validates each record against a JSON Schema and routes
the value into exactly one of 4 typed columns with per-type coercion
(reference timescale.py:98-216 — ``identify_data_column`` +
``parse_measurement_value``), then issues one INSERT per record. Here
the whole batch is one codegen'd projection:

- number   → ``measurement_number``   (cast double, reference :208)
- string   → ``measurement_string``
- boolean  → ``measurement_bool``     (true/false strings accepted,
                                       reference :196-205)
- geography→ ``measurement_location`` WKT ``SRID=4326;POINT(lon lat)``
             — lon FIRST (reference :270), lat/lon range-validated
             (reference :260-263); input rendered "[lat, lon]" or
             "lat,lon" (reference parse_to_geopoint accepts both).

Validation-as-filter: rows violating the required-field contract
(reference timeseries.json required list) are split to a reject
channel rather than raising.

Scale design: parquet sink partitioned by event date ≙ hypertable
chunking on ``timestamp`` (reference db/create_table_and_roles.sql:59);
time-range queries then prune partitions exactly like chunk exclusion.
The reference's 8 secondary indexes are replaced by parquet row-group
min/max stats + predicate pushdown. ``measurement_unique_id`` uses
``monotonically_increasing_id`` (non-contiguous, unlike the
reference's sequence — documented semantic difference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eventhub_to_timescale_spark.functions.scalars import wkt_point
from eventhub_to_timescale_spark.ingest.envelope import materialize
from eventhub_to_timescale_spark.schema import (
    TYPE_BOOLEAN,
    TYPE_GEOGRAPHY,
    TYPE_NUMBER,
    TYPE_STRING,
)


def records_to_conditions(records: DataFrame, with_unique_id: bool = True) -> DataFrame:
    """Long atomic records → wide conditions rows (valid rows only)."""
    t = F.col("measurement_data_type")
    v = F.col("measurement_value")
    bool_val = F.when(
        F.lower(v).isin("true", "false"), F.lower(v) == "true"
    )
    # a geography value ('[lat, lon]' or 'lat,lon') is split once, in a
    # Project below the Generate, and the range checks and the WKT
    # format (lon first) read the parts
    geo = F.split(F.regexp_replace(v, r"[\[\]\s]", ""), ",")
    records = records.withColumn("_geo", F.when(t == TYPE_GEOGRAPHY, geo))
    lat, lon = F.col("_geo")[0].cast("double"), F.col("_geo")[1].cast("double")
    # the typed values are materialized (one-row Generate) so the
    # validity filter reads them as struct fields: over a Project, the
    # filter would be pushed below it with every alias inlined,
    # re-running each cast
    typed = F.struct(
        F.when(t == TYPE_NUMBER, v.cast("double")).alias("measurement_number"),
        F.when(t == TYPE_STRING, v).alias("measurement_string"),
        F.when(t == TYPE_BOOLEAN, bool_val).alias("measurement_bool"),
        F.when(t == TYPE_GEOGRAPHY, wkt_point(lat, lon)).alias(
            "measurement_location"
        ),
    )
    out = materialize(records, typed, "typed").select(
        F.col("timestamp"),
        "measurement_subject",
        "measurement_publisher",
        "measurement_of",
        "typed.*",
        "correlation_id",
    )
    # reject: typed value failed coercion (reference raises per record,
    # timescale.py:121-124 asserts rowcount)
    valid = (
        F.col("measurement_number").isNotNull()
        | F.col("measurement_string").isNotNull()
        | F.col("measurement_bool").isNotNull()
        | F.col("measurement_location").isNotNull()
    )
    out = out.filter(valid)
    if with_unique_id:
        out = out.withColumn("measurement_unique_id", F.monotonically_increasing_id())
    return out


def conditions_rejects(records: DataFrame) -> DataFrame:
    """Rows whose value failed typed coercion — dead-letter channel.

    NOTE: this recomputes the wide pivot and anti-joins against it —
    an independent plan from ``records_to_conditions``. A caller
    consuming BOTH outputs re-parses the input twice; ``persist()``
    the ``records`` frame (or its upstream parse) in that case, same
    guidance as ``validate_records``."""
    wide = records_to_conditions(records, with_unique_id=False)
    keys = ["timestamp", "measurement_subject", "measurement_of", "correlation_id"]
    return records.join(wide.select(*keys), on=keys, how="left_anti")


def write_conditions_parquet(conditions: DataFrame, path: str, mode: str = "append") -> None:
    """Parquet sink partitioned by day ≙ hypertable chunks."""
    (
        conditions.withColumn("date", F.to_date("timestamp"))
        .repartition("date")  # one writer set per day-partition; avoids
        # many-small-files at high partition counts
        .write.mode(mode)
        .partitionBy("date")
        .parquet(path)
    )


def write_conditions_jdbc(
    conditions: DataFrame,
    url: str,
    table: str = "conditions",
    properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
    create_table_column_types: str | None = None,
) -> None:
    """JDBC append to a real TimescaleDB (reference sink S7). One
    connection per partition, batched inserts — replaces the
    reference's one-INSERT-per-record loop (timescale.py:107-120)."""
    props = {"batchsize": str(batchsize), **(properties or {})}
    if create_table_column_types:
        props["createTableColumnTypes"] = create_table_column_types
    conditions.drop("measurement_unique_id").write.jdbc(
        url, table, mode="append", properties=props
    )


IDEMPOTENCY_KEY = ("timestamp", "measurement_subject", "measurement_of", "correlation_id")

# Column order of the staged conditions batch (measurement_unique_id
# is dropped before staging; the target may default it server-side).
CONDITIONS_JDBC_COLUMNS = (
    "timestamp",
    "measurement_subject",
    "measurement_publisher",
    "measurement_of",
    "measurement_number",
    "measurement_string",
    "measurement_bool",
    "measurement_location",
    "correlation_id",
)


def _q(name: str) -> str:
    # Spark's JDBC writer quotes column identifiers on CREATE TABLE
    # (preserving lower case, incl. the reserved word `timestamp`), so
    # the merge must quote too or Derby/PG would fold the case.
    return '"' + name + '"'


def upsert_sql(
    table: str,
    staging: str,
    columns: tuple[str, ...] = CONDITIONS_JDBC_COLUMNS,
    key_cols: tuple[str, ...] = IDEMPOTENCY_KEY,
    dialect: str = "postgres",
    key_casts: dict[str, str] | None = None,
) -> str:
    """Server-side idempotent merge: staged batch → target, skipping
    rows whose idempotency key already landed (at-least-once delivery
    → effectively exactly-once; the reference tolerates duplicate
    inserts instead, SURVEY §3.1 error channel).

    The column list is explicit — the target table may carry extra
    defaulted columns (e.g. a ``measurement_unique_id`` sequence) or a
    different column order than the staged batch, so ``SELECT s.*``
    would mis-align values.

    ``dialect='postgres'`` emits ``ON CONFLICT DO NOTHING`` (needs the
    unique key index; concurrency-safe). ``dialect='ansi'`` emits a
    ``NOT EXISTS`` anti-join that any ANSI engine (incl. embedded
    Derby) executes — correct for a single writer per target, which is
    what foreachBatch guarantees; key columns are non-null by
    construction so the equality predicate never NULL-drops a row.
    ``key_casts`` maps key columns to a SQL type to CAST both sides
    through — needed where the engine's String mapping is CLOB
    (Derby), since CLOBs cannot be compared with ``=``.
    """
    collist = ", ".join(_q(c) for c in columns)
    sel = ", ".join(f"s.{_q(c)}" for c in columns)
    if dialect == "postgres":
        keys = ", ".join(_q(k) for k in key_cols)
        return (
            f"INSERT INTO {table} ({collist}) "
            f"SELECT {sel} FROM {staging} s "
            f"ON CONFLICT ({keys}) DO NOTHING"
        )

    def _k(alias: str, k: str) -> str:
        if key_casts and k in key_casts:
            return f"CAST({alias}.{_q(k)} AS {key_casts[k]})"
        return f"{alias}.{_q(k)}"

    pred = " AND ".join(f"{_k('t', k)} = {_k('s', k)}" for k in key_cols)
    return (
        f"INSERT INTO {table} ({collist}) "
        f"SELECT {sel} FROM {staging} s "
        f"WHERE NOT EXISTS (SELECT 1 FROM {table} t WHERE {pred})"
    )


def write_conditions_jdbc_idempotent(
    conditions: DataFrame,
    url: str,
    table: str = "conditions",
    batch_id: int = 0,
    properties: dict[str, str] | None = None,
    dialect: str | None = None,
    create_table_column_types: str | None = None,
) -> None:
    """Exactly-once-ish JDBC path for ``foreachBatch``: stage the batch
    to a per-batch table (parallel JDBC write), then one server-side
    idempotent merge keyed on ``IDEMPOTENCY_KEY``, then drop the
    staging table. On PostgreSQL this is ``INSERT ... ON CONFLICT DO
    NOTHING`` (requires ``CREATE UNIQUE INDEX ON conditions
    (timestamp, measurement_subject, measurement_of,
    correlation_id)``); elsewhere an ANSI ``NOT EXISTS`` merge.
    Executed for real against embedded Derby in
    ``tests/test_jdbc_sink.py`` (reference live path:
    timescale.py:98-124, CI test_timescale.py:167-256).
    """
    staging = f"{table}_staging_{batch_id}"
    props = dict(properties or {})
    if create_table_column_types:
        props["createTableColumnTypes"] = create_table_column_types
    # intra-batch dedup BEFORE staging: the ANSI NOT EXISTS merge only
    # checks the pre-statement target snapshot, so a message delivered
    # twice within one batch would insert twice (ON CONFLICT dedups it
    # server-side on PG; dropDuplicates gives both dialects the same
    # arbitrary-survivor-per-key semantics)
    staged = conditions.drop("measurement_unique_id").dropDuplicates(
        list(IDEMPOTENCY_KEY)
    )
    staged.write.jdbc(url, staging, mode="overwrite", properties=props)
    if dialect is None:
        dialect = "postgres" if "postgresql" in url else "ansi"
    # ANSI path: string keys go through VARCHAR so CLOB-mapped string
    # columns (Derby) stay comparable
    key_casts = None
    if dialect == "ansi":
        key_casts = {
            # Derby's VARCHAR max — a truncating cast would make long
            # keys collide and silently drop distinct rows
            f.name: "VARCHAR(32672)"
            for f in staged.schema.fields
            if f.name in IDEMPOTENCY_KEY and f.dataType.simpleString() == "string"
        }
    spark = conditions.sparkSession
    jvm = spark._sc._jvm  # server-side merge via plain JDBC statement
    user = props.get("user")
    if user is not None:
        conn = jvm.java.sql.DriverManager.getConnection(
            url, user, props.get("password", "")
        )
    else:
        conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        stmt = conn.createStatement()
        try:
            stmt.execute(
                upsert_sql(
                    table,
                    staging,
                    tuple(staged.columns),
                    dialect=dialect,
                    key_casts=key_casts,
                )
            )
            stmt.execute(f"DROP TABLE {staging}")
        finally:
            stmt.close()
    finally:
        conn.close()


def write_conditions_bucketed(
    conditions: DataFrame,
    table_name: str = "conditions_bucketed",
    buckets: int = 64,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed + sorted conditions store for subject-keyed workloads.

    ``bucketBy(measurement_subject)`` pre-shuffles the table ONCE at
    write time; subject-grouped aggregations and subject-keyed joins
    against any same-bucketed table then run with NO Exchange (pinned
    by ``tests/test_bucketed_store.py``). At 100 TB this converts the
    per-query subject shuffle of Q7/Q8/Q9-style workloads into a
    one-time write cost — the Spark analogue of the reference's
    (subject, of) secondary indexes. ``sortBy(subject, timestamp)``
    additionally hands the window operators presorted runs.

    Bucketing requires the session catalog (``saveAsTable``); pass
    ``path`` to keep the data external.
    """
    writer = (
        conditions.write.mode(mode)
        .bucketBy(buckets, "measurement_subject")
        .sortBy("measurement_subject", "timestamp")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)
