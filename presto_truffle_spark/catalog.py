"""Table catalog over the driver's parquet fixtures.

The reference's "catalog" is an in-memory ``List<Page>`` built once per
process (``PureJavaTest.java:12``; page model ``Page.java:5-30``). Ours is
the Parquet-backed star schema under ``/root/testdata/sf*`` (TESTDATA.md):
``spark.read.parquet`` gives us the columnar-batch-over-raw-buffers scan the
reference hand-wrote, plus predicate pushdown / column pruning for free.

At 100 TB each table would be a directory of many files (ideally
partitioned by date for ``lineitem``/``orders``/``events``); reading a
directory vs a single file is the same one-line call, so nothing here
changes at scale.

Parquet schemas are memoized for the life of the process (``read_parquet``).
Without the memo every ``spark.read.parquet`` starts a Spark job to infer
the schema from the file footers, and at fixture scale that job, not the
scan, dominates query start (``register_views`` alone infers ten). The memo
key is the absolute path, the ``(mtime_ns, size)`` of every file under it
and the session's current values of the confs that change inference
(``SCHEMA_CONFS``), so a rewritten file or a flipped conf is read afresh.
It holds the ``StructType`` only, never a DataFrame: a self-join loads the
same table twice and needs distinct attribute ids, and a memo of metadata
caches no data across queries.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
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

# Dimension tables small enough to broadcast at EVERY scale factor (fixed
# cardinality: 5 regions, 25 nations). `supplier`/`customer`/`part` all
# grow LINEARLY with scale factor (TPC-H: 10k/150k/200k rows per SF — and
# visibly in the fixtures: supplier is 10/100/1,000 rows at
# sf0.001/0.01/0.1), so at 100 TB none of them is broadcastable — joins on
# those go through `broadcast_if_dim`, i.e. AQE's runtime size-based pick
# of broadcast vs shuffle-hash vs sort-merge.
ALWAYS_BROADCAST = ("region", "nation")

# Session confs that change what schema parquet inference returns; read at
# call time, since the driver owns the session and may flip them.
SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

# (absolute path, SCHEMA_CONFS values) -> (file_stats of the path, schema)
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def file_stats(path: str) -> tuple[tuple[str, int, int], ...]:
    """``(file, mtime_ns, size)`` of ``path`` if it is a file, else of every
    file under it, in a fixed order; empty if nothing there exists."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((path, st.st_mtime_ns, st.st_size),)
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out.append((p, st.st_mtime_ns, st.st_size))
    return tuple(sorted(out))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema from the process-wide
    memo when the files and schema confs are unchanged since it was
    inferred; a memo hit starts no Spark job. A path with no file to stat
    reads as it would without the memo, so Spark raises its own error."""
    files = file_stats(path)
    if not files:
        return spark.read.parquet(path)
    key = (os.path.abspath(path), tuple(spark.conf.get(c) for c in SCHEMA_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == files:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (files, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Column pruning/pushdown happen in Catalyst.

    The parquet schema comes from ``read_parquet``'s memo, keyed on the
    absolute path, every file's ``(mtime_ns, size)`` and the
    ``SCHEMA_CONFS`` values at call time, so a warm call starts no
    schema-inference job. Each call still returns a NEW DataFrame: the memo
    holds the schema, never the frame, so a self-join of two calls gets
    distinct attribute ids.

    `events.ts` is a naive parquet timestamp; batch operators consume it as
    TIMESTAMP_NTZ **end-to-end** (r5, VERDICT r4 item 3): any NTZ->LTZ cast
    interprets the naive value in ``spark.sql.session.timeZone``, which the
    DRIVER owns and we cannot pin, and r4 proved the resulting divergence
    live (``events_gapfill_locf``, 59,950/105,171 rows off under a non-UTC
    session). NTZ values collect as plain naive datetimes with no zone
    conversion anywhere (not even the Python-side ``fromtimestamp`` local
    zone the LTZ collect path goes through), matching the DuckDB oracles'
    naive ``CAST(ts AS TIMESTAMP)`` exactly. Zone-free arithmetic helpers
    live in ``tztime.py``; only Structured Streaming casts to LTZ (the
    watermark machinery requires TimestampType — streaming/windows.py).

    Legacy shapes are normalized to NTZ zone-free: bigint epoch-nanos via
    ``timestamp_add`` from the NTZ epoch (integer ``div`` — epoch-nanos
    ~1.7e18 exceed a double's 2^53 exact range, so a float divide would
    corrupt microsecond digits).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # Set at call time: the driver owns the SparkSession, so we cannot
        # rely on session-creation configs being present.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        elif ts_type == "timestamp":
            # Only reachable if the driver disabled NTZ inference; best
            # effort — pin the zone so the LTZ->NTZ cast is deterministic.
            # SCOPED pin (ADVICE r5): the analyzer bakes the zone into the
            # Cast when the plan resolves, so force analysis under UTC and
            # restore the driver's own zone afterwards — loading a table
            # must not clobber session state the driver relies on.
            prev_tz = spark.conf.get("spark.sql.session.timeZone")
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            try:
                df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
                df.schema  # resolve NOW: Cast captures UTC here
            finally:
                spark.conf.set("spark.sql.session.timeZone", prev_tz)
            import sys

            print(
                "load_table(events): LTZ fixture detected; ts cast to "
                "TIMESTAMP_NTZ under a scoped UTC pin (session zone "
                f"restored to {prev_tz})",
                file=sys.stderr,
            )
        return df
    return read_parquet(spark, path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so operators can use spark.sql."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
