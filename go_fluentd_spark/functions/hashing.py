"""Cross-engine hash primitives: the k-gram fold spec (``GramHash``) and the
md5-prefix string hash, each emitted for Spark and for its DuckDB twin from
one definition."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, functions as F


def stable_hash64(col: Column) -> Column:
    """Deterministic 60-bit int hash of a string, identical in DuckDB
    (``stable_hash64_sql``) — 15 hex chars keeps it positive and within
    int64."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def stable_hash64_sql(x: str) -> str:
    """DuckDB twin of ``stable_hash64`` over the SQL expression ``x``."""
    return f"CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"


@dataclass(frozen=True)
class GramHash:
    """The k-gram key ``Σ t_j·base^(k−1−j) mod mod`` as an int64 Horner fold
    with a ``% mod`` after each step, emitted for Spark (``fold``) and
    DuckDB (``fold_sql``) from the same loop.  The caller supplies the
    ``k`` term expressions; every term must be >= 0 and
    ``(mod − 1)·base + max_term`` must stay below 2**63, so no step
    overflows and both engines compute the exact polynomial."""

    k: int
    base: int
    mod: int

    def fold(self, terms: list[Column]) -> Column:
        acc = F.lit(0).cast("bigint")
        for t in terms:
            acc = (acc * self.base + t) % self.mod
        return acc

    def fold_sql(self, terms: list[str]) -> str:
        acc = "CAST(0 AS BIGINT)"  # a bare 0 seeds an INT32 fold that overflows
        for t in terms:
            acc = f"(({acc}) * {self.base} + {t}) % {self.mod}"
        return acc
