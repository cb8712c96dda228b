"""Batch fuzzy kernels must be bit-identical to the scalar kernels."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mass_georeferencing_spark.functions import fuzzy, fuzzy_batch

WORDS = st.text(alphabet="abcdefg ", max_size=30)


def _check_all(a_list, b_list):
    br = fuzzy_batch.batch_ratio(a_list, b_list)
    bp = fuzzy_batch.batch_partial_ratio(a_list, b_list)
    bt = fuzzy_batch.batch_token_set_ratio(a_list, b_list)
    for i, (a, b) in enumerate(zip(a_list, b_list)):
        assert br[i] == fuzzy.ratio(a, b), ("ratio", a, b, br[i])
        assert bp[i] == fuzzy.partial_ratio(a, b), ("partial", a, b, bp[i])
        assert bt[i] == fuzzy.token_set_ratio(a, b), ("token_set", a, b, bt[i])


def test_known_cases():
    a = ["", "", "abc", "spark table", "new york", "sao paulo brazil", "a" * 80, "\x01", "a\x00b"]
    b = ["", "x", "abc", "spark table scan", "york new", "paulo", "a" * 100 + "b", "\x00", "a\x01b"]
    _check_all(a, b)


@given(st.lists(st.tuples(WORDS, WORDS), min_size=1, max_size=40))
@settings(max_examples=200, deadline=None)
def test_property_equivalence(pairs):
    a_list = [p[0] for p in pairs]
    b_list = [p[1] for p in pairs]
    _check_all(a_list, b_list)


@given(st.tuples(st.text(max_size=70), st.text(max_size=70)))
@settings(max_examples=100, deadline=None)
def test_unicode_and_long_fallback(pair):
    a, b = pair
    _check_all([a], [b])


@given(st.lists(st.tuples(WORDS, WORDS, WORDS), min_size=1, max_size=25))
@settings(max_examples=150, deadline=None)
def test_score_pair_prune_sound(triples):
    # the prune short-circuit may alter scores only for pairs that the
    # downstream threshold filter drops either way
    from mass_georeferencing_spark.operators.fuzzy_join import (
        FUZZY_SUM_THRESHOLD,
        score_pair,
    )

    for qf, qn, nm in triples:
        exact = score_pair(qf, qn, nm, threshold=None)
        pruned = score_pair(qf, qn, nm, threshold=FUZZY_SUM_THRESHOLD)
        keep_exact = sum(exact) > FUZZY_SUM_THRESHOLD
        keep_pruned = sum(pruned) > FUZZY_SUM_THRESHOLD
        assert keep_exact == keep_pruned, (qf, qn, nm, exact, pruned)
        if keep_exact:
            assert exact == pruned


def test_score_batches_yield_exact_survivors():
    # the mapInArrow body, fed Arrow batches directly: it must yield exactly
    # the rows whose EXACT scores pass s1 + s2 > 140, with those exact scores,
    # and pass every input column through; NULL scores as ''
    import pyarrow as pa

    from mass_georeferencing_spark.operators.fuzzy_join import (
        FUZZY_SUM_THRESHOLD,
        _score_batch,
        _score_batches,
    )

    long_q = "saint " * 12 + "petersburg"  # > 63 chars: scalar fallback
    rows = [
        ("rio grande", "rio grande", "rio grande"),
        ("lake tahoe", "lake tahoe", "tahoe city"),
        ("zzz qqq", "zzz qqq", "unrelated words"),
        ("black river", "black river", "black riv"),
        ("x", "x", "y"),
        (None, None, None),
        ("", "", ""),
        (None, "alpha", "alpha"),
        ("são paulo", "são paulo", "sao paulo"),
        ("köln", "köln", "köln"),
        (long_q, long_q, long_q),
        (long_q, long_q, "petersburg"),
    ]
    dropped = [("zzz qqq", "zzz qqq", "unrelated words"), ("x", "x", "y")]
    cols = ["qf", "qn", "nm"]

    def batch(rs):
        arrays = [pa.array([r[i] for r in rs], pa.string()) for i in range(3)]
        lang = pa.array([f"l{i}" for i in range(len(rs))], pa.string())
        return pa.RecordBatch.from_arrays([lang, *arrays], names=["lang", *cols])

    batches = [batch(rows), batch([]), batch(dropped)]
    out = list(
        _score_batches(
            iter(batches), _score_batch, cols, ["score1", "score2"], FUZZY_SUM_THRESHOLD
        )
    )
    assert len(out) == len(batches)
    for rb, got in zip(batches, out):
        texts = {c: [s or "" for s in rb.column(c).to_pylist()] for c in cols}
        s1 = fuzzy_batch.batch_partial_ratio(texts["qf"], texts["nm"])
        s2 = fuzzy_batch.batch_token_set_ratio(texts["qn"], texts["nm"])
        keep = [i for i in range(rb.num_rows) if s1[i] + s2[i] > FUZZY_SUM_THRESHOLD]
        assert got.schema.names == ["lang", *cols, "score1", "score2"]
        assert got.to_pydict() == {
            **rb.take(pa.array(keep, pa.int64())).to_pydict(),
            "score1": [s1[i] for i in keep],
            "score2": [s2[i] for i in keep],
        }
    assert out[0].num_rows > 5 and out[2].num_rows == 0

    # without a threshold: one exact ratio per row, no row dropped
    (one,) = _score_batches(
        iter(batches[:1]), fuzzy_batch.batch_partial_ratio, ["qf", "nm"], ["s"]
    )
    assert one.num_rows == len(rows)
    assert one.column("s").to_pylist() == list(
        fuzzy_batch.batch_partial_ratio(
            [r[0] or "" for r in rows], [r[2] or "" for r in rows]
        )
    )
