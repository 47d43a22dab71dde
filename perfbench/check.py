"""Correctness gates computed apart from the program.

CDC state is compared with the benchmark's own expected state (gen.py) as
Arrow tables in one canonical form: the columns of STATE_SCHEMA, rows sorted
by every column, so row order and file layout do not matter. Registry
results are compared with DuckDB running the registry's oracle SQL on the
same parquet files, under the rules of tools/check_oracles.py: same column
names, same row count, and equal values order-insensitively after rounding
floats to 9 digits; HUGEINT/DECIMAL oracle columns fail.
"""

from __future__ import annotations

from collections import Counter
from datetime import datetime, timedelta
from typing import Any, Iterable

import pandas as pd
import pyarrow as pa

STATE_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int64()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("ts", pa.int64()),  # microseconds since the epoch, UTC
        ("tool", pa.string()),  # null on tables that never evolved
    ]
)
STATE_COLS = STATE_SCHEMA.names


class GateError(AssertionError):
    """An output of the program differs from the independent expectation."""


def canonical_state(tb: pa.Table) -> pa.Table:
    tb = tb.select(STATE_COLS).cast(STATE_SCHEMA)
    return tb.sort_by([(c, "ascending") for c in STATE_COLS]).combine_chunks()


def state_table(df) -> pa.Table:
    """Canonical state of a Spark DataFrame of table rows."""
    from pyspark.sql import functions as F

    tool = F.col("tool") if "tool" in df.columns else F.lit(None).cast("string")
    tb = df.select(
        "conv_id", "turn_idx", "role", "text", F.unix_micros("ts").alias("ts"), tool.alias("tool")
    ).toArrow()
    return canonical_state(tb)


def collected_table(rows: list) -> pa.Table:
    """Canonical state of collected Rows (timestamps are naive UTC: the
    process runs with TZ=UTC)."""
    epoch = datetime(1970, 1, 1)
    return canonical_state(
        pa.Table.from_pylist(
            [
                {
                    **{c: r[c] for c in ("conv_id", "turn_idx", "role", "text")},
                    "ts": (r["ts"] - epoch) // timedelta(microseconds=1),
                    "tool": r["tool"] if "tool" in r else None,
                }
                for r in rows
            ],
            schema=STATE_SCHEMA,
        )
    )


def frame_table(pdf: pd.DataFrame) -> pa.Table:
    """Canonical state of a pandas frame with the STATE_COLS columns."""
    return canonical_state(pa.Table.from_pandas(pdf[STATE_COLS], preserve_index=False))


def drop_row(tb: pa.Table) -> pa.Table:
    """`tb` without its middle row: an expectation the program cannot meet."""
    k = tb.num_rows // 2
    return pa.concat_tables([tb.slice(0, k), tb.slice(k + 1)]).combine_chunks()


def expect_equal(what: str, actual: pa.Table, expected: pa.Table) -> None:
    if actual.equals(expected):
        return

    def rows(tb: pa.Table) -> Counter:
        return Counter(zip(*(tb.column(c).to_pylist() for c in STATE_COLS)))

    a, e = rows(actual), rows(expected)
    missing, extra = e - a, a - e
    sample = next(iter(missing or extra), None)
    raise GateError(
        f"{what}: {actual.num_rows} rows, expected {expected.num_rows}; "
        f"{sum(missing.values())} missing, {sum(extra.values())} unexpected; e.g. {sample!r:.300}"
    )


def resolve_changes(df) -> pa.Table:
    """Last writer by `_lsn` per key over a read_changes() frame, with
    deletes dropped, in canonical form."""
    from pyspark.sql import functions as F

    tool = F.col("tool") if "tool" in df.columns else F.lit(None).cast("string")
    pdf = df.select(
        "conv_id", "turn_idx", "role", "text", F.unix_micros("ts").alias("ts"),
        tool.alias("tool"), "_lsn", "_change_type",
    ).toPandas()
    last = pdf.sort_values("_lsn", kind="stable").drop_duplicates(["conv_id", "turn_idx"], keep="last")
    return frame_table(last[last["_change_type"] != "delete"])


def expect_ledger(rows: list[dict[str, Any]], job_id: str, n_epochs: int) -> None:
    """Each epoch 0..n_epochs-1 committed by exactly one version."""
    versions: dict[int, set[int]] = {}
    for r in rows:
        if r["job_id"] == job_id:
            versions.setdefault(int(r["batch_id"]), set()).add(int(r["version"]))
    bad = {b: sorted(v) for b, v in versions.items() if len(v) != 1}
    if set(versions) != set(range(n_epochs)) or bad:
        raise GateError(
            f"ledger: epochs {sorted(versions)} (expected 0..{n_epochs - 1}), "
            f"committed more than once: {bad}"
        )


# --------------------------------------------------------------------------
# registry queries vs DuckDB
# --------------------------------------------------------------------------
def canonical(cols: list[str], rows: Iterable[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, and the rows, each value normalized as
    tools/check_oracles.py does (NULL sentinel, NaN, floats rounded to 9
    digits, repr), sorted."""
    from tools.check_oracles import normrow

    order = sorted(cols)
    idx = [cols.index(c) for c in order]
    return order, sorted(normrow(r[i] for i in idx) for r in rows)


def duckdb_expected(con, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(sql)
    cols = list(rel.columns)
    hazards = [f"{c}:{t}" for c, t in zip(cols, rel.types) if "HUGEINT" in str(t) or "DECIMAL" in str(t)]
    if hazards:
        raise GateError(f"oracle emits HUGEINT/DECIMAL columns {hazards}")
    return canonical(cols, rel.fetchall())


def expect_query(name: str, cols: list[str], rows: list, expected: tuple[list[str], list[tuple]]) -> None:
    got_cols, got = canonical(cols, (tuple(r) for r in rows))
    exp_cols, exp = expected
    if got_cols != exp_cols:
        raise GateError(f"{name}: columns {got_cols}, oracle {exp_cols}")
    if len(got) != len(exp):
        raise GateError(f"{name}: {len(got)} rows, oracle {len(exp)}")
    if got != exp:
        i = next(i for i, (a, b) in enumerate(zip(got, exp)) if a != b)
        raise GateError(f"{name}: sorted row {i} differs: spark {got[i]} oracle {exp[i]}")
