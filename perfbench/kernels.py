"""Single-process kernel timings, outside Spark, on seeded samples taken
from a workload's own inputs. Each rate is items per second of the median
of ``REPEATS`` timed calls on the same sample."""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

REPEATS = 5


def _rate(fn, n_items: int) -> float:
    times = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return n_items / statistics.median(times)


def fuzzy_rates(q_full: list[str], q_nostop: list[str], names: list[str]) -> dict[str, float]:
    """``fuzzy_batch`` on distinct (query, name) pairs, one 4000-pair batch
    per call as the scoring UDF issues them."""
    from mass_georeferencing_spark.functions import fuzzy_batch

    n = len(names)
    return {
        "fuzzy_batch.token_set_pairs_per_s": _rate(
            lambda: fuzzy_batch.batch_token_set_ratio(q_nostop, names), n
        ),
        "fuzzy_batch.partial_pairs_per_s": _rate(
            lambda: fuzzy_batch.batch_partial_ratio(q_full, names), n
        ),
    }


def sample_pairs(queries: pd.DataFrame, names: pd.DataFrame, n: int, seed: int):
    """``n`` seeded same-block pairs from distinct query rows (lang,
    mention_folded, mention_nostop_folded) and distinct name rows (lang,
    name_folded)."""
    rng = np.random.default_rng([seed, 5])
    by_lang = {lang: g["name_folded"].tolist() for lang, g in names.groupby("lang")}
    queries = queries[queries["lang"].isin(list(by_lang))].reset_index(drop=True)
    pick = rng.integers(0, len(queries), size=n)
    q_full, q_nostop, out_names = [], [], []
    for i in pick.tolist():
        row = queries.iloc[i]
        pool = by_lang[row["lang"]]
        q_full.append(row["mention_folded"] or "")
        q_nostop.append(row["mention_nostop_folded"] or "")
        out_names.append(pool[int(rng.integers(0, len(pool)))] or "")
    return q_full, q_nostop, out_names


def corpus_rates(texts: list[str], lang_id_udf) -> dict[str, float]:
    """``dedup.minhash_signature`` per document, and the lang-ID kernel
    through the function the pandas UDF wraps."""
    from mass_georeferencing_spark.operators.dedup import minhash_signature

    series = pd.Series(texts)
    return {
        "dedup.signature_docs_per_s": _rate(
            lambda: [minhash_signature(t) for t in texts], len(texts)
        ),
        "textstats.langid_docs_per_s": _rate(lambda: lang_id_udf.func(series), len(texts)),
    }


def spatial_rates(rings: list[np.ndarray], lon: np.ndarray, lat: np.ndarray, res: int) -> dict[str, float]:
    """``geo.PreparedPolygon.contains`` (point tests per second, every point
    against every polygon) and ``cells.polygon_to_cells`` (cover cells per
    second)."""
    from mass_georeferencing_spark.functions.cells import polygon_to_cells
    from mass_georeferencing_spark.functions.geo import PreparedPolygon

    preps = [PreparedPolygon([r]) for r in rings]
    n_cells = sum(len(polygon_to_cells([r], res)) for r in rings)
    return {
        "geo.raycast_points_per_s": _rate(
            lambda: [p.contains(lon, lat) for p in preps], len(lon) * len(preps)
        ),
        "cells.cover_cells_per_s": _rate(
            lambda: [polygon_to_cells([r], res) for r in rings], n_cells
        ),
    }
