"""What the program must produce, from the DuckDB oracle, and the Spark-side
readers that produce the same shapes for comparison.

Every comparison returns a list of mismatch descriptions; an empty list
means the operation was correct.
"""

from __future__ import annotations

from collections import defaultdict

import duckdb
from pyspark.sql import functions as F

from go_fluentd_spark import oracle

#: per (sink, tag): (rows, token checksum)
Table = dict[tuple[str, str], tuple[int, int]]


def oracle_tables(sf_dir: str, temp_dir: str) -> tuple[dict[tuple[str, str], int], Table]:
    """``oracle.q_sink_counts()`` and a per-(sink, tag) token checksum over
    ``oracle.q_routed_rows()``, both on DuckDB over ``sf_dir/orders.parquet``."""
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.execute(f"SET temp_directory = '{temp_dir}'")
        con.execute(
            f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')"
        )
        counts = {(s, t): int(n) for s, t, n in con.execute(oracle.q_sink_counts()).fetchall()}
        rows = con.execute(
            "SELECT sink, tag, count(*), sum(list_sum(list_transform("
            "string_split(tokens_csv, ','), x -> CAST(x AS BIGINT)))) "
            f"FROM ({oracle.q_routed_rows()}) GROUP BY sink, tag"
        ).fetchall()
    finally:
        con.close()
    routed = {(s, t): (int(n), int(ck)) for s, t, n, ck in rows}
    if {k: v[0] for k, v in routed.items()} != counts:
        raise RuntimeError("oracle disagrees with itself: q_sink_counts vs q_routed_rows")
    return counts, routed


def collect_table(df) -> Table:
    """Rows and token checksum per (sink, tag) in one action."""
    checksum = F.aggregate("tokens", F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    rows = (
        df.groupBy("sink", "tag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(checksum).alias("ck"))
        .collect()
    )
    return {(r.sink, r.tag): (int(r.n), int(r.ck)) for r in rows}


def collect_rows(df) -> dict[tuple[str, str], int]:
    """Rows per (sink, tag), for sink tables without ``tokens``:
    ``write_sinks`` projects ``kafka_cp`` down to its ``include_fields``.
    Compare with ``q_sink_counts()``."""
    return {(r.sink, r.tag): int(r["count"]) for r in df.groupBy("sink", "tag").count().collect()}


def diff(name: str, got: dict, want: dict) -> list[str]:
    if got == want:
        return []
    keys = sorted(set(got) | set(want), key=str)
    bad = [f"{k}: got {got.get(k)} want {want.get(k)}" for k in keys if got.get(k) != want.get(k)]
    return [f"{name}: {len(bad)} mismatches, first: {bad[:3]}"]


def per_sink(table: Table) -> dict[str, int]:
    out: dict[str, int] = defaultdict(int)
    for (sink, _), (n, _) in table.items():
        out[sink] += n
    return dict(out)
