"""Every gram fold is a ``GramHash`` spec: its Spark Column fold, its DuckDB
SQL fold and a plain-Python Horner must give the same int64 key, on zero
terms, on each spec's largest possible terms and on a seeded sample — and
no Horner step may leave int64."""

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from go_fluentd_spark.operators import dataprep as D
from go_fluentd_spark.sources.synth import VOCAB

MAX_CODE = 0x10FFFF  # largest Unicode code point ascii() can return
SPECS = {
    "shingle": (D.SHINGLE_HASH, MAX_CODE),
    "token": (D.TOKEN_HASH, VOCAB - 1),
    "winnow": (D.WINNOW_HASH, MAX_CODE),
    "band": (D.BAND_HASH, D.BAND_HASH.mod - 1),
}


def _horner(spec, terms):
    acc = 0
    for t in terms:
        acc = (acc * spec.base + t) % spec.mod
    return acc


def _cases(spec, max_term):
    rng = random.Random(spec.k * 1_000_003 + spec.base)
    return [[0] * spec.k, [max_term] * spec.k] + [
        [rng.randint(0, max_term) for _ in range(spec.k)] for _ in range(50)
    ]


@pytest.mark.parametrize("name", sorted(SPECS))
def test_gram_hash_spec_parity(spark, name):
    spec, max_term = SPECS[name]
    assert (spec.mod - 1) * spec.base + max_term < 2**63
    cases = _cases(spec, max_term)
    expected = [_horner(spec, c) for c in cases]

    cols = [f"t{j}" for j in range(spec.k)]
    df = spark.createDataFrame(
        [(i, *c) for i, c in enumerate(cases)],
        ", ".join(["i int"] + [f"{c} bigint" for c in cols]),
    )
    got = df.select("i", spec.fold([F.col(c) for c in cols]).alias("h")).collect()
    assert [r.h for r in sorted(got)] == expected

    # bare literals are INT32 terms in DuckDB, as ascii() returns: only the
    # fold's BIGINT seed keeps the arithmetic from overflowing
    values = ", ".join(f"({i}, {', '.join(map(str, c))})" for i, c in enumerate(cases))
    rows = duckdb.sql(
        f"SELECT {spec.fold_sql(cols)} FROM (VALUES {values}) v(i, {', '.join(cols)}) "
        "ORDER BY i"
    ).fetchall()
    assert [r[0] for r in rows] == expected
