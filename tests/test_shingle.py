"""kernels.shingle.shingles against the SQL shingle builder on the
inputs the synthetic corpus never has: NULL text, fewer than / exactly
``n`` tokens, double spaces (an empty token), empty and non-ASCII
text. The query-level oracle tests cannot reach these cases. And
minhash against its definition over hash60."""

from collections import Counter

import duckdb
import pandas as pd
import pytest

from resume_parser_service_spark.kernels.shingle import (hash60, minhash,
                                                         shingles)
from resume_parser_service_spark.operators.catalog import _shingle_rel

TEXTS = [
    None,
    "",
    "one two three",                   # fewer than n = 5 tokens
    "one two three four five",         # exactly n tokens
    "one two  three four five six",    # double space: an empty token
    " leading and trailing spaces ",
    "café über straße naïve résumé",
]


@pytest.mark.parametrize("n", [1, 2, 5])
def test_shingles_match_duckdb_shingle_rel(n):
    docs = pd.DataFrame({"doc_id": range(len(TEXTS)), "text": TEXTS})
    con = duckdb.connect()
    con.register("_shingle_docs", docs)
    got = con.execute(
        _shingle_rel("duck", n=n, table="_shingle_docs")).fetchall()
    sql = {i: Counter() for i in range(len(TEXTS))}
    for doc_id, sh in got:
        sql[doc_id][sh] += 1
    for i, text in enumerate(TEXTS):
        assert Counter(shingles(text, n)) == sql[i], (n, text)



def test_minhash_is_min_of_hash60():
    seeds = [f"s{i}#".encode() for i in range(8)]
    data = {f"tok{i} café {i * 7}".encode() for i in range(300)} | {b""}
    assert minhash(data, seeds) == [
        min(hash60(seed + d) for d in data) for seed in seeds]


def test_minhash_of_empty_set_raises():
    """Like ``min`` of no values: an empty set has no minimum, so no
    sentinel value may come back as a signature."""
    with pytest.raises(ValueError, match="empty"):
        minhash(set(), [b"s0#"])
