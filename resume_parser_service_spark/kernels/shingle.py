"""Word n-gram shingles and their 60-bit md5 hash — the one Python copy
of the tokenize -> n-gram -> hash step every dedup operator runs.

Pure stdlib (no Spark import). All three reproduce the SQL
builders in ``operators/catalog.py`` bit for bit: ``shingles`` is
``_shingle_rel`` (``split(text, ' ')``, so a double space keeps an
empty token), ``hash60`` is ``_hash60`` / ``functions.hash60`` and
``minhash`` is the ``min(hash60(concat(seed, shingle)))`` of
``incremental.band_signatures_sql``."""

from __future__ import annotations

from collections.abc import Collection, Sequence
from hashlib import md5

__all__ = ["hash60", "minhash", "shingles"]


def hash60(data: bytes) -> int:
    """Top 60 bits of md5(data): the same value as SQL
    ``conv(substring(md5(s), 1, 15), 16, 10)`` over the UTF-8 bytes."""
    return int.from_bytes(md5(data).digest()[:8], "big") >> 4


def shingles(text: str | None, n: int) -> list[str]:
    """One space-joined ``n``-gram per token position; none when the
    text has fewer than ``n`` tokens or is None (SQL's NULL)."""
    if text is None:
        return []
    toks = text.split(" ")
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


def minhash(data: Collection[bytes], seeds: Sequence[bytes]) -> list[int]:
    """Per seed, ``min(hash60(seed + d) for d in data)``; ``data`` must
    not be empty. The seed's md5 state is built once and copied per
    element, so the seed is hashed once and no ``seed + d`` bytes are
    built. The minimum is taken over the digests (bytes compare as
    big-endian integers, and the top 60 bits keep their order), so no
    int is built per element either. Measured 0.52 -> 0.38-0.40 s CPU (best
    of 5) over 99,824 shingles of 2,000 sf0.1 documents x 8 seeds on a
    4-vCPU VM, against ``min`` over ``md5(seed + d)`` digest prefixes."""
    if not data:
        raise ValueError("minhash of an empty set")
    out = []
    for seed in seeds:
        p = md5(seed)
        lo = b"\xff" * 16
        for d in data:
            h = p.copy()
            h.update(d)
            v = h.digest()
            if v < lo:
                lo = v
        out.append(int.from_bytes(lo[:8], "big") >> 4)
    return out
