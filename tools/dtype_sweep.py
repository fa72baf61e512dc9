"""Cross-engine result-type matrix: Spark output dtype vs DuckDB oracle
type, per column, across every registered query (VERDICT r5 item 7).

The value-hash comparison canonicalizes VALUES, so a type mismatch that
renders differently (HUGEINT/int64, DECIMAL/DOUBLE, TIMESTAMPTZ/naive)
can fail the driver while passing a fetchall()-based check. selfcheck's
oracle_dtype_violations gate kills the known-dangerous classes; this
sweep records the FULL matrix so every remaining cross-engine pairing is
an explicitly accepted equivalence (FIXTURES.md), not an unexamined one.

Usage: python tools/dtype_sweep.py [sf_dir]   (default sf0.001; builds
every Spark DataFrame for schema only — side-effecting source queries do
run their writes)
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

# Accepted cross-engine equivalences: same VALUE rendering after the
# driver's canonicalization even though the type NAMES differ.
ACCEPTED = [
    # (spark dtype regex, duckdb type regex, why it's safe)
    (r"^bigint$", r"^BIGINT$", "identical int64"),
    (r"^int$", r"^INTEGER$", "identical int32"),
    (r"^smallint$", r"^SMALLINT$", "identical int16"),
    (r"^double$", r"^DOUBLE$", "identical float64"),
    (r"^float$", r"^FLOAT$", "identical float32"),
    (r"^string$", r"^VARCHAR$", "identical utf8"),
    (r"^boolean$", r"^BOOLEAN$", "identical bool"),
    (r"^date$", r"^DATE$", "identical date32"),
    (r"^binary$", r"^BLOB$", "identical bytes"),
    # NTZ vs naive TIMESTAMP: both collect as naive datetimes with no
    # zone conversion (the r5 zone-proofing contract).
    (r"^timestamp_ntz$", r"^TIMESTAMP$", "both collect naive"),
    # int32 vs int64: both fetch paths (python ints AND Arrow/pandas)
    # render plain integers — unlike HUGEINT there is no decimal/float
    # decay. Driver-proven: sink_zorder_layout/_incremental and
    # multimodal_frame_sample carry exactly this pairing and hold green
    # hash-verified rows (r5, r1).
    (r"^int$", r"^BIGINT$", "integer rendering identical; driver-proven"),
    # DuckDB int arithmetic narrows/widens differently in nested types;
    # element values canonicalize identically.
    (r"^array<bigint>$", r"^BIGINT\[\]$", "identical elements"),
    (r"^array<int>$", r"^INTEGER\[\]$", "identical elements"),
    (r"^array<string>$", r"^VARCHAR\[\]$", "identical elements"),
    (r"^array<double>$", r"^DOUBLE\[\]$", "identical elements"),
]


def accepted(spark_t: str, duck_t: str) -> str | None:
    for sp, dp, why in ACCEPTED:
        if re.match(sp, spark_t) and re.match(dp, duck_t):
            return why
    return None


def main() -> int:
    import __spark_entry__ as entrymod
    from presto_truffle_spark.session import get_spark
    from tools.selfcheck import TABLES, oracle_dtype_violations

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("dtype-sweep")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    pair_counts: Counter[tuple[str, str, str]] = Counter()
    unexplained: list[tuple[str, str, str, str]] = []
    gate_hits: list[tuple[str, list]] = []
    errors: list[tuple[str, str]] = []

    for name, fn in qs.items():
        if name not in oracles:
            continue
        try:
            sdt = {k.lower(): v for k, v in fn(spark, sf_dir).dtypes}
            desc = con.execute(f"DESCRIBE {oracles[name]}").fetchall()
        except Exception as e:  # noqa: BLE001
            errors.append((name, str(e).splitlines()[0][:120]))
            continue
        g = oracle_dtype_violations(con, oracles[name], sdt)
        if g:
            gate_hits.append((name, g))
        for row in desc:
            col, duck_t = row[0].lower(), row[1].upper()
            spark_t = sdt.get(col, "<missing>")
            why = accepted(spark_t, duck_t)
            if why:
                pair_counts[(spark_t, duck_t, why)] += 1
            else:
                unexplained.append((name, col, spark_t, duck_t))

    print(f"\nswept {len(oracles)} oracles at {sf_dir}")
    print("\naccepted type pairings (spark -> duckdb, columns):")
    for (sp, dk, why), n in sorted(pair_counts.items()):
        print(f"  {sp:<22} -> {dk:<14} x{n:<5} ({why})")
    print(f"\nselfcheck dtype-gate hits: {len(gate_hits)}")
    for name, g in gate_hits:
        print(f"  {name}: {g}")
    print(f"\nUNEXPLAINED pairings: {len(unexplained)}")
    for name, col, sp, dk in unexplained:
        print(f"  {name}.{col}: spark={sp} duck={dk}")
    if errors:
        print(f"\nerrors ({len(errors)}):")
        for name, e in errors:
            print(f"  {name}: {e}")
    return 1 if (unexplained or gate_hits or errors) else 0


if __name__ == "__main__":
    sys.exit(main())
