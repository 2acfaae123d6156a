"""Seeded input generators for the benchmark workloads.

The program under test derives every row from an ``o_orderkey`` value
(``go_fluentd_spark.sources.synth``): the family is ``key % 100``, the concat
container is ``(key % 50) * 100 + (key // 100) % 100`` and ``doc_id`` embeds
the key zero-padded to 8 digits.  So a workload is fully described by a set
of keys, and the generators here only choose keys.  The same seed always
gives the same keys.

Keys must be unique and below ``KEY_LIMIT``: ``sequences_df`` builds the
``doc_id`` with ``lpad(key, 8)``, which cuts a longer key down to its first 8
digits, so keys of 10^8 or more would collide into duplicate ``doc_id`` values.
"""

from __future__ import annotations

import numpy as np

KEY_LIMIT = 10**8
BLOCK = 100  # one key of every synth family per block of 100 consecutive keys
N_BLOCKS = KEY_LIMIT // BLOCK

# synth families by key % 100 (see the table in sources/synth.py)
HEAD_FAMILIES = (44, 45)  # spring heads: 44 -> spring.prod, 45 -> spring.sit
TAIL_OFFSET = 50  # 94 / 95: continuation tails sharing the head's container
DISCARD_FAMILIES = (
    (96, 97),  # junkapp: dropped by the accept whitelist
    (88, 90),  # spark rows matching ignore_regex: dropped by the acceptor
    (98, 99),  # head-shaped junk bodies: dropped by the parser
)
# container slots per head family: (key // 100) % 100
SLOTS = 100
# at most 10**4 session positions per container keep keys below KEY_LIMIT
MAX_POSITIONS = KEY_LIMIT // (SLOTS * BLOCK)

# multiline_skew session layout
TAIL_SHARE = 0.6  # share of the rows that are continuation tails
ZIPF_A = 1.6  # session lengths in tails: Zipf(ZIPF_A), capped at SESSION_CAP
SESSION_CAP = 2000
# one session of LONG_LEN tails runs past the default concat_max_len (300k
# chars at 59 chars a tail) and gets its last tails evicted
LONG_LEN = 5300


def check_keys(keys: np.ndarray) -> np.ndarray:
    """Raise unless ``keys`` are unique non-negative integers below
    ``KEY_LIMIT``; returns them sorted as int64."""
    keys = np.sort(np.asarray(keys, dtype=np.int64))
    if len(keys) == 0:
        raise ValueError("no keys generated")
    if keys[0] < 0 or keys[-1] >= KEY_LIMIT:
        raise ValueError(f"keys must lie in [0, {KEY_LIMIT})")
    if np.any(keys[1:] == keys[:-1]):
        raise ValueError("duplicate keys")
    return keys


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def mix_keys(seed: int, n_rows: int) -> np.ndarray:
    """A uniform sample of whole 100-key blocks: the synth's reference family
    mix exactly (about 60% hot spring tag, 2% multiline tails, 8% discards,
    ``cp`` rows fanning out to two sinks).  Whole blocks keep every
    continuation tail next to its own head."""
    n_blocks = n_rows // BLOCK
    blocks = _rng(seed, 0).choice(N_BLOCKS, size=n_blocks, replace=False)
    return check_keys((blocks[:, None] * BLOCK + np.arange(BLOCK)).ravel())


def _session_lengths(rng: np.random.Generator, n_tails: int) -> list[int]:
    """The long session first, then Zipf lengths until the tails run out."""
    lengths = [LONG_LEN]
    left = n_tails - LONG_LEN
    while left > 0:
        n = int(min(rng.zipf(ZIPF_A), SESSION_CAP, left))
        lengths.append(n)
        left -= n
    return lengths


def multiline_skew_keys(seed: int, n_rows: int) -> np.ndarray:
    """Continuation tails (``TAIL_SHARE`` of the rows) folded into
    Zipf-length sessions on the 200 hot spring.prod / spring.sit containers,
    plus one session of ``LONG_LEN`` tails that runs past ``concat_max_len``.
    The rest of the rows are discards: junkapp, spark ``ignore_regex`` rows
    and head-shaped junk bodies.

    Container ``c`` has head family ``44 + c // 100`` and slot ``g = c % 100``.
    Its sessions are laid out by position ``m``: the head is key
    ``10000*m + 100*g + family`` and tail ``k`` of the session is key
    ``10000*(m + k) + 100*g + family + 50``.  Every tail sorts after its head
    and before the container's next head, so each session folds exactly as
    laid out."""
    rng = _rng(seed, 1)
    n_tails = int(round(n_rows * TAIL_SHARE))
    lengths = _session_lengths(rng, n_tails)
    n_containers = len(HEAD_FAMILIES) * SLOTS
    # the long session lands in a random container, like the rest
    where = rng.integers(0, n_containers, size=len(lengths))
    next_pos = np.zeros(n_containers, dtype=np.int64)
    keys: list[np.ndarray] = []
    for c, n in zip(where.tolist(), lengths):
        fam, g = HEAD_FAMILIES[c // SLOTS], c % SLOTS
        m = int(next_pos[c])
        next_pos[c] = m + n
        if next_pos[c] > MAX_POSITIONS:
            raise ValueError("container overflow: too many tails per container")
        base = 100 * g + fam
        keys.append(np.array([10000 * m + base], dtype=np.int64))
        keys.append(10000 * np.arange(m, m + n, dtype=np.int64) + base + TAIL_OFFSET)
    n_discard = n_rows - n_tails - len(lengths)
    if n_discard < 0:
        raise ValueError("n_rows too small for the session layout")
    per_family = np.array_split(np.arange(n_discard), len(DISCARD_FAMILIES))
    for fams, idx in zip(DISCARD_FAMILIES, per_family):
        x = rng.choice(N_BLOCKS * len(fams), size=len(idx), replace=False)
        keys.append((x // len(fams)) * BLOCK + np.asarray(fams)[x % len(fams)])
    return check_keys(np.concatenate(keys))

