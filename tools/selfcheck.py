"""Self-check harness mimicking the driver's DuckDB-oracle comparison.

Runs every queries() entry at a given scale factor, runs the oracle SQL in
DuckDB over the same parquet, and compares row count, column names/order
(sorted), and order-insensitive values. Reports per-query PASS/FAIL.

Driver-faithful since round 5 (VERDICT r4 item 1): the driver hashes EXACT
values and formats, so a ``decimal(27,6)`` ``347498168.050000`` and a
``double`` ``347498168.05`` are DIFFERENT even though numerically equal.
This harness therefore:
  * never rounds floats (``repr(v)`` exact; the old ``round(v, 9)``
    masked exactly the r4 failures);
  * keeps ``Decimal`` distinct from ``float`` and preserves its scale
    (``str(Decimal)`` keeps trailing zeros);
  * keeps ``int`` distinct from ``float`` (``5`` vs ``5.0``);
  * tags tz-aware datetimes with their UTC offset (Spark always collects
    naive; a tz-aware DuckDB TIMESTAMPTZ must not silently equal it).
Queries needing numeric slack must build the envelope into the query
itself (round on BOTH sides) — the repo convention since r2 (FIXTURES.md).

Usage: python tools/selfcheck.py [sf_dir] [query_name ...]
Flags (anywhere in argv):
  --dump DIR   persist each side's canonical sorted rows to
               DIR/<query>.{spark,duck}.txt for offline diffing
  --approx     legacy 9-digit float rounding (debugging only — NOT what
               the driver does)
  --tz ZONE    set spark.sql.session.timeZone to ZONE after session
               creation, simulating a driver that owns a non-UTC session
               (VERDICT r4 item 8; combine with the TZ env var to also
               shift the Python/JVM OS zone). Results must be identical
               under every zone — queries are required to be zone-proof.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

_USAGE = (
    "usage: python tools/selfcheck.py [sf_dir] [query_name ...] "
    "[--dump DIR] [--tz ZONE] [--approx]"
)


def _flag_value(args, flag):
    """Pop ``flag VALUE`` from args; exit with usage if VALUE is missing."""
    if flag not in args:
        return None
    i = args.index(flag)
    if i + 1 >= len(args):
        print(f"{flag} requires a value\n{_USAGE}", file=sys.stderr)
        sys.exit(2)
    value = args[i + 1]
    del args[i : i + 2]
    return value


_args = sys.argv[1:]
APPROX = "--approx" in _args
DUMP_DIR = _flag_value(_args, "--dump")
SESSION_TZ = _flag_value(_args, "--tz")
_args = [a for a in _args if a != "--approx"]

SF_DIR = _args[0] if _args else "/root/testdata/sf0.01"
ONLY = set(_args[1:])

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    """Canonicalize a cell the way the driver's value-hash sees it:
    exact value AND exact type/format."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if APPROX:
            return repr(round(v, 9))
        return repr(v)
    if isinstance(v, decimal.Decimal):
        if APPROX:
            return repr(round(float(v), 9))
        # str() preserves scale ("1.050000" != "1.05") — intentionally
        # distinct from float so decimal-vs-double mismatches FAIL here
        # the way they fail the driver hash.
        return "dec:" + str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, datetime.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S.%f")
        if v.tzinfo is not None:
            s += f" tz:{v.utcoffset()}"
        return s
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d")
    return str(v)


def oracle_dtype_violations(con, sql, spark_dtypes=None):
    """DESCRIBE the oracle and return (column, duck_type) pairs whose
    result type the ``fetchall()`` value comparison is structurally blind
    to (VERDICT r5 item 2).

    DuckDB's Python ``fetchall()`` renders HUGEINT (int128 — the default
    type of ``sum(BIGINT)``) as a lossless Python ``int``, identical to a
    BIGINT fetch — but the driver's Arrow/pandas-path hash distinguishes
    them (int128 has no int64 Arrow type and decays to decimal/float).
    That asymmetry is exactly how 3 oracles stayed RED for three rounds
    while passing selfcheck. Gate: any HUGEINT/UHUGEINT column is a
    violation; a DECIMAL column is a violation unless the Spark side is
    DecimalType too (``spark_dtypes``: {col_lower: dtype_string}).
    DESCRIBE is plan-only — the oracle is not executed."""
    desc = con.execute(f"DESCRIBE {sql}").fetchall()
    sdt = {k.lower(): v for k, v in (spark_dtypes or {}).items()}
    bad = []
    for row in desc:
        col, typ = row[0], row[1].upper()
        if "HUGEINT" in typ:
            bad.append((col, typ))
        elif typ.startswith("DECIMAL") and not sdt.get(
            col.lower(), ""
        ).startswith("decimal"):
            bad.append((col, typ))
    return bad


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm_cell(r[i]) for i in order))
    out.sort()
    return out


def _dump(name, side, rows):
    if not DUMP_DIR:
        return
    os.makedirs(DUMP_DIR, exist_ok=True)
    with open(os.path.join(DUMP_DIR, f"{name}.{side}.txt"), "w") as f:
        for r in rows:
            f.write("\t".join(r) + "\n")


def _conf_snapshot(spark):
    """Explicitly-set session SQL confs, key -> value.

    ``spark.sql.session.timeZone`` is exempt: the harness itself re-pins
    it per query under --tz, and streaming sources legitimately pin it
    back to UTC (the re-pin loop below absorbs that)."""
    return {
        r["key"]: r["value"]
        for r in spark.sql("SET").collect()
        if r["key"] != "spark.sql.session.timeZone"
    }


def main() -> int:
    import __spark_entry__ as entrymod
    from presto_truffle_spark.session import get_spark

    spark = get_spark("selfcheck")
    if SESSION_TZ:
        spark.conf.set("spark.sql.session.timeZone", SESSION_TZ)
        print(f"session timezone deliberately set to {SESSION_TZ}")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    # Conf-invariance gate (ADVICE/VERDICT r12): running any registered op
    # must leave session confs unchanged — a leaked raise of e.g.
    # cteRecursionRowLimit silently disables the runaway backstop for
    # every later query in the shared session. Warm the load-path confs
    # once (register_views sets nanosAsLong on first table load), then
    # snapshot; each query's run+collect is diffed against it.
    from presto_truffle_spark.catalog import register_views

    register_views(spark, SF_DIR)
    conf_base = _conf_snapshot(spark)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = [n for n in qs if not ONLY or n in ONLY]
    n_pass = n_fail = n_rowsonly = 0
    failures = []
    for name in names:
        t0 = time.time()
        try:
            if SESSION_TZ:
                # re-pin per query: streaming sources legitimately pin the
                # session back to UTC, and the gauntlet must re-shift for
                # whatever runs next
                spark.conf.set("spark.sql.session.timeZone", SESSION_TZ)
            sdf = qs[name](spark, SF_DIR)
            spark_cols = [c.lower() for c in sdf.columns]
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL  {name}: SPARK ERROR")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        conf_now = _conf_snapshot(spark)
        if conf_now != conf_base:
            drift = {
                k: (conf_base.get(k, "<unset>"), conf_now.get(k, "<unset>"))
                for k in set(conf_base) | set(conf_now)
                if conf_base.get(k) != conf_now.get(k)
            }
            print(f"FAIL  {name}: SESSION CONF DRIFT {drift}")
            n_fail += 1
            failures.append(name)
            # restore so later queries run under the intended session
            for k, (_, now) in drift.items():
                if k in conf_base:
                    spark.conf.set(k, conf_base[k])
                else:
                    spark.conf.unset(k)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(spark_rows)} rows (rows-only, {time.time()-t0:.1f}s)")
            n_rowsonly += 1
            continue
        try:
            gate = oracle_dtype_violations(
                con, oracles[name], dict(sdf.dtypes)
            )
            if gate:
                print(
                    f"FAIL  {name}: oracle dtype gate — {gate} "
                    "(fetchall() cannot see this skew; the driver hash can)"
                )
                n_fail += 1
                failures.append(name)
                continue
            res = con.execute(oracles[name])
            duck_cols = [d[0].lower() for d in res.description]
            duck_rows = res.fetchall()
        except Exception:
            print(f"FAIL  {name}: DUCKDB ERROR")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        if sorted(spark_cols) != sorted(duck_cols):
            print(f"FAIL  {name}: columns {sorted(spark_cols)} vs {sorted(duck_cols)}")
            n_fail += 1
            failures.append(name)
            continue
        if len(spark_rows) != len(duck_rows):
            print(f"FAIL  {name}: rowcount {len(spark_rows)} vs {len(duck_rows)}")
            n_fail += 1
            failures.append(name)
            continue
        a = canon(spark_rows, spark_cols)
        b = canon(duck_rows, duck_cols)
        _dump(name, "spark", a)
        _dump(name, "duck", b)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL  {name}: values differ; first diffs: {diff}")
            n_fail += 1
            failures.append(name)
            continue
        print(f"PASS  {name}: {len(spark_rows)} rows ({time.time()-t0:.1f}s)")
        n_pass += 1
    print(
        f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only "
        f"of {len(names)} queries"
    )
    if failures:
        print("failures:", " ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
