"""Hash primitives.

The reference LBs by ``xxhash(Message[lb_key]) % nfork`` for state affinity
(``internal/tagfilters/base.go:78-92``, ``internal/recvs/fluentd.go:368-377``);
here that affinity is the concat window's (tag, container_id) hash partition.
Also: a cross-engine-stable string hash (md5-prefix as int) used by the
dedup/minhash operators so the DuckDB oracle can reproduce signatures.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def stable_hash64(col: Column) -> Column:
    """Deterministic 60-bit int hash of a string, identical in DuckDB:
    ``cast(('0x' || substr(md5(x),1,15)) as bigint)`` — 15 hex chars keeps it
    positive and within int64."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")
