"""Local stand-in for the driver's t2 gate: run every workload query on
Spark AND its DuckDB oracle at a given sf dir, compare row count, schema
(column names), ARROW TYPES, and order-insensitive values. Usage:

    python tools/check_parity.py [sf_dir] [query ...] [--paranoid-floats]
                                 [--gate-off] [--json PATH]

--gate-off: set CBS_FORCE_DISTRIBUTED=1 before any query runs, so every
size gate (chatbot_spark.gating) takes its distributed regime — the
oracle then checks the recurrences that sf0.01 inputs would otherwise
always driver-solve.

Type comparison: both results are fetched as Arrow and each column's type
is reduced to a canonical family (int / float / decimal / str / ...). A
family mismatch is a FAIL even when every Python value compares equal —
the round-4/5 lesson: DuckDB types sum(BIGINT) as HUGEINT → arrow
decimal128(38,0) while Spark returns int64; the driver's value hash is
type-sensitive, so such a query is driver-red while being value-identical
locally. Oracles must CAST bare integer sums to BIGINT.

--paranoid-floats: for every selected query whose oracle SQL contains a
round() call, ALSO run the oracle with round() rewritten to an
unambiguous floor(x*10^n + 0.5)/10^n macro and compare. A mismatch means
the query's values sit on a rounding tie — its driver verdict would then
depend on the oracle engine's round-on-double semantics (which have
shifted across DuckDB releases). Such queries should be rewritten to the
floor form on both sides before the driver flags them.
"""

from __future__ import annotations

import math
import os
import re
import sys
import time

import duckdb
import pyarrow as pa


def arrow_family(t: pa.DataType) -> str:
    """Collapse an arrow type to the family the driver's hash cares
    about. int64 vs int32 IS a difference (hash-relevant width); string
    vs large_string and timestamp unit/tz are representation noise."""
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_integer(t):
        return f"int{t.bit_width}"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{arrow_family(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(
            f"{t.field(i).name}:{arrow_family(t.field(i).type)}"
            for i in range(t.num_fields)
        )
        return f"struct<{inner}>"
    if pa.types.is_map(t):
        return f"map<{arrow_family(t.key_type)},{arrow_family(t.item_type)}>"
    return str(t)


def type_mismatches(spark_schema: pa.Schema, duck_schema: pa.Schema) -> list[str]:
    """Per-column (matched by name) arrow-type family diffs. Name diffs
    are reported separately by the caller."""
    out = []
    dtypes = {f.name: f.type for f in duck_schema}
    for f in spark_schema:
        if f.name in dtypes:
            sfam, dfam = arrow_family(f.type), arrow_family(dtypes[f.name])
            if sfam != dfam:
                out.append(f"{f.name}: spark={sfam} duck={dfam}")
    return out


def normalize(rows: list[tuple]) -> list[tuple]:
    out = []
    for r in rows:
        row = []
        for v in r:
            if isinstance(v, float):
                if math.isnan(v):
                    row.append("NaN")
                else:
                    # collapse -0.0/0.0 and fix float repr
                    row.append(round(v + 0.0, 9))
            else:
                row.append(v)
        out.append(tuple(row))
    return sorted(out, key=repr)


def neg_zero_counts(rows: list[tuple]) -> dict[int, int]:
    """Per-column count of float -0.0 cells in the RAW (pre-normalize)
    result. The r12 lesson: Spark's round() returns +0.0 for tiny
    negative doubles while DuckDB's returns -0.0; Python == (and
    normalize() above) treats them equal, but the driver's value hash is
    bit-sensitive — the r10/r11 cosine-pin driver-reds were exactly
    this. A per-column count mismatch between engines is therefore a
    guaranteed driver hash-red that local value comparison cannot see."""
    counts: dict[int, int] = {}
    for r in rows:
        for i, v in enumerate(r):
            if isinstance(v, float) and v == 0.0 and math.copysign(1.0, v) < 0:
                counts[i] = counts.get(i, 0) + 1
    return counts


def floorize_round(sql: str) -> str:
    """Rewrite every round(x) / round(x, n) call in *sql* to the
    rounding-mode-free floor form: floor(x + 0.5) resp.
    floor(x * 10^n + 0.5) / 10^n. Paren-balancing, so nested calls and
    commas inside the argument are handled; inner round()s are rewritten
    too (innermost first via re-scan)."""
    while True:
        m = re.search(r"\bround\s*\(", sql)
        if m is None:
            return sql
        start, i = m.start(), m.end()
        depth, top_comma = 1, None
        while depth:
            c = sql[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "," and depth == 1:
                top_comma = i
            i += 1
        if top_comma is None:
            arg = sql[m.end() : i - 1]
            repl = f"floor(({arg}) + 0.5)"
        else:
            arg = sql[m.end() : top_comma]
            n = sql[top_comma + 1 : i - 1].strip()
            repl = (
                f"(floor(({arg}) * power(10, {n}) + 0.5) / power(10, {n}))"
            )
        sql = sql[:start] + repl + sql[i:]


def main() -> int:
    # --json PATH: also write a machine-readable sweep artifact (round-7
    # verdict item 3 — the full-sweep parity run becomes a committed
    # PARITY_r{N}.json instead of an uncommitted local run)
    json_path = None
    raw = sys.argv[1:]
    if "--json" in raw:
        i = raw.index("--json")
        json_path = raw[i + 1]
        raw = raw[:i] + raw[i + 2:]
    argv = [a for a in raw if a not in ("--paranoid-floats", "--gate-off")]
    paranoid = "--paranoid-floats" in raw
    gate_off = "--gate-off" in raw
    if gate_off:
        os.environ["CBS_FORCE_DISTRIBUTED"] = "1"
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import pyspark

    from chatbot_spark.session import get_spark
    from chatbot_spark.workload import ORACLE_SQL, SPARK_QUERIES

    # Pin the oracle-engine versions into every parity report: a query can
    # be green under one duckdb release and red under another when its
    # output depends on round-on-double tie behavior.
    print(f"engines: duckdb={duckdb.__version__} pyspark={pyspark.__version__}"
          + (" gate-off" if gate_off else ""))

    spark = get_spark("parity", master="local[8]", shuffle_partitions=8)

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    report: dict[str, dict] = {}
    for name, fn in SPARK_QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_cols = sorted(sdf.columns)
            sraw = [
                tuple(r[c] for c in spark_cols)
                for r in (row.asDict() for row in sdf.collect())
            ]
            srows = normalize(sraw)
        except Exception as e:
            failures.append(name)
            report[name] = {"status": "FAIL", "detail": f"spark {type(e).__name__}: {e}"}
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in ORACLE_SQL:
            report[name] = {"status": "SKIP", "rows": len(srows)}
            print(f"SKIP  {name}: no oracle ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            cur = con.execute(ORACLE_SQL[name])
            duck_cols_raw = [d[0] for d in cur.description]
            order = sorted(range(len(duck_cols_raw)), key=lambda i: duck_cols_raw[i])
            duck_cols = [duck_cols_raw[i] for i in order]
            draw = [tuple(r[i] for i in order) for r in cur.fetchall()]
            drows = normalize(draw)
            # Schema-only re-probe (LIMIT 0) to get the oracle's arrow
            # types without re-materializing the result.
            duck_schema = con.execute(
                f"SELECT * FROM ({ORACLE_SQL[name]}) AS __t LIMIT 0"
            ).arrow().schema
        except Exception as e:
            failures.append(name)
            report[name] = {"status": "FAIL", "detail": f"duckdb {type(e).__name__}: {e}"}
            print(f"FAIL  {name}: duckdb error {type(e).__name__}: {e}")
            continue

        try:
            from pyspark.sql.pandas.types import to_arrow_schema

            tdiff = type_mismatches(to_arrow_schema(sdf.schema), duck_schema)
        except Exception as e:  # pragma: no cover - defensive
            tdiff = [f"type-probe error {type(e).__name__}: {e}"]

        if paranoid and re.search(r"\bround\s*\(", ORACLE_SQL[name]):
            # Re-run the oracle with round() swapped for the floor-based
            # macro: any divergence means this query's verdict depends on
            # the engine's rounding mode — a latent driver red.
            psql = floorize_round(ORACLE_SQL[name])
            try:
                pcur = con.execute(psql)
                prows = normalize(
                    [tuple(r[i] for i in order) for r in pcur.fetchall()]
                )
            except Exception as e:
                failures.append(name)
                report[name] = {"status": "FAIL", "detail": f"paranoid {type(e).__name__}: {e}"}
                print(f"FAIL  {name}: paranoid rewrite error {type(e).__name__}: {e}")
                continue
            if prows != drows:
                n_bad = sum(1 for a, b in zip(prows, drows) if a != b)
                failures.append(name)
                report[name] = {"status": "FAIL", "detail": "tie-sensitive round()"}
                print(
                    f"FAIL  {name}: TIE-SENSITIVE round(): floor-form oracle "
                    f"differs in {n_bad}/{len(drows)} rows (+{len(prows)-len(drows)} row delta)"
                )
                continue

        status = []
        if spark_cols != duck_cols:
            status.append(f"schema spark={spark_cols} duck={duck_cols}")
        if tdiff:
            status.append(f"types {tdiff}")
        if len(srows) != len(drows):
            status.append(f"rows spark={len(srows)} duck={len(drows)}")
        sz_s, sz_d = neg_zero_counts(sraw), neg_zero_counts(draw)
        if sz_s != sz_d:
            # bitwise driver-hash red that == comparison cannot see
            diff = {
                spark_cols[i]: (sz_s.get(i, 0), sz_d.get(i, 0))
                for i in set(sz_s) | set(sz_d)
                if sz_s.get(i, 0) != sz_d.get(i, 0)
            }
            status.append(
                f"SIGNED-ZERO (spark,duck) -0.0 counts differ: {diff} — "
                "normalize with `+ 0.0` (Spark) / `+ 0.0` (SQL) on the "
                "rounded output"
            )
        elif sz_d:
            print(
                f"note  {name}: both engines emit -0.0 "
                f"({ {spark_cols[i]: c for i, c in sz_d.items()} }) — "
                "hash-consistent today, prefer normalizing"
            )
        if not status and srows != drows:
            n_bad = sum(1 for a, b in zip(srows, drows) if a != b)
            ex = next((a, b) for a, b in zip(srows, drows) if a != b)
            status.append(f"values {n_bad}/{len(srows)} differ; first: spark={ex[0]} duck={ex[1]}")
        if status:
            failures.append(name)
            report[name] = {"status": "FAIL", "detail": "; ".join(status)}
            print(f"FAIL  {name}: {'; '.join(status)}")
        else:
            report[name] = {
                "status": "OK",
                "rows": len(srows),
                "sec": round(time.time() - t0, 1),
            }
            print(f"OK    {name}  ({len(srows)} rows, {time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if json_path:
        import json as _json

        payload = {
            "metric": "oracle_parity_sweep",
            "sf_dir": sf_dir,
            "gate_off": gate_off,
            "engines": {
                "duckdb": duckdb.__version__,
                "pyspark": pyspark.__version__,
            },
            "n_checked": len(report),
            "n_ok": sum(1 for r in report.values() if r["status"] == "OK"),
            "failures": failures,
            "queries": report,
        }
        with open(json_path, "w") as f:
            f.write(_json.dumps(payload, separators=(",", ":")) + "\n")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
