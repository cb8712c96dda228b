"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical inputs, and the engine only ever sees what is written here.
Nothing reads outside the benchmark's work directory, so the crawl is
synthesized in the shape of the testdata ``documents`` table (a 30-word
vocabulary, 10-99 words per page, the same language mix, ~5% near-duplicate
pages ending in " dup") instead of being read from it.

The polygon WKB writer and the ray cast / haversine used by the output checks
are written out here on purpose: they must not change when the engine's own
codec or kernels do.
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_WEIGHTS = (0.41, 0.15, 0.14, 0.15, 0.15)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
N_NATIONS = 25

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _docs_table(ids, texts, langs) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        schema=DOC_SCHEMA,
    )


def exact_shares(rng: np.random.Generator, n: int, weights) -> np.ndarray:
    """``n`` category indices, category k exactly ``round(n * weights[k])``
    times (the last takes the remainder), in seeded order. The fuzzy join's
    pair count is quadratic in each block's size, so drawing the categories
    independently would let the seed move the cost."""
    counts = [round(n * w) for w in weights[:-1]]
    counts.append(n - sum(counts))
    return rng.permutation(np.repeat(np.arange(len(counts)), counts))


def base_documents(seed: int, n_docs: int, dup_share: float = 0.05) -> pa.Table:
    """A crawl of ``n_docs`` pages: random vocabulary words, and a
    ``dup_share`` of pages that copy an earlier page and append " dup".
    The language mix and the duplicate count are exact for every seed."""
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(10, 100, size=n_docs)
    langs = exact_shares(rng, n_docs, LANG_WEIGHTS)
    is_dup = exact_shares(rng, n_docs - 1, (1 - dup_share, dup_share)) == 1
    is_dup = np.concatenate([[False], is_dup])  # page 0 has nothing to copy
    texts: list[str] = []
    for i in range(n_docs):
        if is_dup[i]:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), size=int(lengths[i]))
            texts.append(" ".join(VOCAB[w] for w in words))
    return _docs_table(list(range(n_docs)), texts, [LANGS[k] for k in langs])


def amplify(docs: pa.Table, factor: int, seed: int) -> pa.Table:
    """``docs`` × ``factor``. Replica 0 is byte-identical to ``docs``;
    replica r > 0 shifts every doc_id by r·(max id + 1) and prepends a
    seed-chosen vocabulary word, a different one per replica, to the text.
    That shifts every mention and gazetteer name derived from it, so both
    sides of the fuzzy join grow together instead of repeating replica 0's
    pairs."""
    if not 1 <= factor <= len(VOCAB):
        raise ValueError(f"factor must be in 1..{len(VOCAB)}, got {factor}")
    if factor == 1:
        return docs
    rng = np.random.default_rng([seed, 2])
    words = [None] + [VOCAB[int(k)] for k in rng.choice(len(VOCAB), size=factor - 1, replace=False)]
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    langs = docs.column("lang").to_pylist()
    stride = max(ids) + 1
    out_ids, out_texts, out_langs = list(ids), list(texts), list(langs)
    for r in range(1, factor):
        out_ids += [i + r * stride for i in ids]
        out_texts += [f"{words[r]} {t}" for t in texts]
        out_langs += langs
    return _docs_table(out_ids, out_texts, out_langs)


def nation_table() -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
            "n_name": pa.array([f"NATION_{k}" for k in range(N_NATIONS)], pa.string()),
            "n_regionkey": pa.array([k % len(REGIONS) for k in range(N_NATIONS)], pa.int32()),
        }
    )


def region_table() -> pa.Table:
    return pa.table(
        {
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )


def write_sf_dir(path: str, documents: pa.Table) -> None:
    """Write the tables the georeference and corpus-prep plans scan."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(documents, os.path.join(path, "documents.parquet"))
    pq.write_table(nation_table(), os.path.join(path, "nation.parquet"))
    pq.write_table(region_table(), os.path.join(path, "region.parquet"))


# ---------------------------------------------------------------------------
# corpus_prep: crawl with planted near-duplicates, repetitive pages and
# benchmark contamination
# ---------------------------------------------------------------------------


_LANG_LETTERS = {
    "en": ("tnshrdl", "eaoi"),
    "zh": ("zhxqgnsj", "aiuo"),
    "de": ("nrstdgkw", "eiau"),
    "fr": ("rstlncvp", "eaiou"),
    "es": ("rsnldcmb", "aeoi"),
}


def lang_vocab(lang: str, size: int = 400) -> list[str]:
    """A fixed vocabulary of consonant-vowel words built from the language's
    own letters, so character trigrams tell the languages apart and random
    pages rarely share 5-character shingles."""
    cons, vows = _LANG_LETTERS[lang]
    rng = np.random.default_rng(sum(map(ord, lang)))
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(2, 5))
        words.add("".join(cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))] for _ in range(n)))
    return sorted(words)


def corpus_inputs(
    seed: int,
    n_docs: int,
    near_dup_share: float = 0.08,
    repetitive_share: float = 0.03,
    contaminated_share: float = 0.02,
    n_bench: int = 40,
) -> tuple[pa.Table, pa.Table, set[int]]:
    """(documents, benchmark, contaminated doc ids).

    Pages draw 10-99 words from their language's vocabulary. Near-duplicates
    copy an earlier page of the same language with one word replaced;
    repetitive pages repeat one word 2-gram; contaminated pages start with a
    20-word passage of a benchmark item (so they share 13-grams with it).
    Each share is fixed by the arguments: the seed changes which pages, not
    how many, which keeps the LSH candidate-pair count, and so the cost,
    steady across seeds."""
    rng = np.random.default_rng([seed, 3])
    vocabs = {lang: lang_vocab(lang) for lang in LANGS}
    langs = [LANGS[k] for k in exact_shares(rng, n_docs, LANG_WEIGHTS)]
    near_dup, repetitive, contaminating = range(3)  # the rest are plain pages
    shares = (near_dup_share, repetitive_share, contaminated_share)
    kind = exact_shares(rng, n_docs, (*shares, 1 - sum(shares)))
    bench_texts = [
        " ".join(rng.choice(vocabs["en"], size=40)) for _ in range(n_bench)
    ]
    texts: list[str] = []
    by_lang: dict[str, list[int]] = {lang: [] for lang in LANGS}
    contaminated: set[int] = set()
    for i, lang in enumerate(langs):
        vocab, same = vocabs[lang], by_lang[lang]
        if kind[i] == near_dup and same:
            words = texts[same[int(rng.integers(0, len(same)))]].split()
            words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
            text = " ".join(words)
        elif kind[i] == repetitive:
            a, b = (vocab[int(k)] for k in rng.integers(0, len(vocab), size=2))
            text = " ".join([a, b] * int(rng.integers(8, 30)))
        else:
            text = " ".join(rng.choice(vocab, size=int(rng.integers(10, 100))))
            if kind[i] == contaminating:
                item = bench_texts[int(rng.integers(0, n_bench))].split()
                start = int(rng.integers(0, len(item) - 20))
                text = " ".join(item[start : start + 20]) + " " + text
                contaminated.add(i)
        texts.append(text)
        same.append(i)
    docs = _docs_table(list(range(n_docs)), texts, langs)
    bench = pa.table({"text": pa.array(bench_texts, pa.string())})
    return docs, bench, contaminated


# ---------------------------------------------------------------------------
# spatial: points with a hot cell, concave polygons, a kNN target grid
# ---------------------------------------------------------------------------


def wkb_polygon(ring: np.ndarray) -> bytes:
    """Little-endian 2D WKB polygon with one closed ring of (lon, lat)."""
    ring = np.asarray(ring, dtype="<f8")
    return struct.pack("<BIII", 1, 3, 1, len(ring)) + ring.tobytes()


def star_polygon(rng: np.random.Generator, cx: float, cy: float, radius: float, n_vertices: int) -> np.ndarray:
    """A closed, concave star-shaped ring: vertex radii alternate between
    ``radius`` and a random 35-70% of it."""
    ang = np.sort(rng.uniform(0, 2 * math.pi, size=n_vertices))
    r = np.where(np.arange(n_vertices) % 2 == 0, radius, radius * rng.uniform(0.35, 0.7, size=n_vertices))
    ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def spatial_inputs(
    seed: int,
    n_points: int,
    n_polygons: int,
    n_vertices: int,
    n_queries: int,
    grid: tuple[int, int] = (40, 90),
    hot_share: float = 0.2,
) -> dict[str, pa.Table | list[np.ndarray]]:
    """points(point_id, lat, lon), polygons(polygon_id, geom_wkb),
    queries(query_id, lat, lon), targets(target_id, target_lat, target_lon),
    plus the polygon rings for the output check.

    The layout is the same for every seed, so the work is too; the seed
    moves things within it. Polygon centres sit on a lattice between 45°S
    and 45°N (jittered by up to 2°, radius 3-5°, so they never overlap). A
    ``hot_share`` of the points falls inside one 0.5° square at polygon 0's
    centre, so one cover cell is hot; half of the rest land near a random
    polygon. Targets form a ``grid`` (rows × columns) over 60°S-60°N, each
    jittered inside its grid cell. kNN queries stay within 30° of the
    equator, where one ring-expansion round settles every query."""
    rng = np.random.default_rng([seed, 4])
    side = math.ceil(math.sqrt(n_polygons))
    gy, gx = np.divmod(np.arange(n_polygons), side)
    cx = -150 + (gx + 0.5) * 300 / side + rng.uniform(-2, 2, n_polygons)
    cy = -45 + (gy + 0.5) * 90 / side + rng.uniform(-2, 2, n_polygons)
    radius = rng.uniform(3.0, 5.0, size=n_polygons)
    rings = [star_polygon(rng, cx[i], cy[i], radius[i], n_vertices) for i in range(n_polygons)]

    hot = rng.random(n_points) < hot_share
    hx, hy = cx[0], cy[0]
    lon = np.where(hot, hx + rng.uniform(-0.25, 0.25, n_points), rng.uniform(-180, 180, n_points))
    lat = np.where(hot, hy + rng.uniform(-0.25, 0.25, n_points), rng.uniform(-60, 60, n_points))
    on_poly = (~hot) & (rng.random(n_points) < 0.5)
    pick = rng.integers(0, n_polygons, size=n_points)
    lon = np.where(on_poly, cx[pick] + rng.uniform(-1, 1, n_points) * radius[pick], lon)
    lat = np.where(on_poly, cy[pick] + rng.uniform(-1, 1, n_points) * radius[pick], lat)

    points = pa.table(
        {
            "point_id": pa.array(np.arange(n_points), pa.int64()),
            "lat": pa.array(lat, pa.float64()),
            "lon": pa.array(lon, pa.float64()),
        }
    )
    polygons = pa.table(
        {
            "polygon_id": pa.array([f"poly:{i}" for i in range(n_polygons)], pa.string()),
            "geom_wkb": pa.array([wkb_polygon(r) for r in rings], pa.binary()),
        }
    )
    rows, cols = grid
    gy, gx = np.divmod(np.arange(rows * cols), cols)
    targets = pa.table(
        {
            "target_id": pa.array(np.arange(rows * cols), pa.int64()),
            "target_lat": pa.array(-60 + (gy + rng.random(rows * cols)) * 120 / rows, pa.float64()),
            "target_lon": pa.array(-180 + (gx + rng.random(rows * cols)) * 360 / cols, pa.float64()),
        }
    )
    queries = pa.table(
        {
            "query_id": pa.array(np.arange(n_queries), pa.int64()),
            "lat": pa.array(rng.uniform(-30, 30, n_queries), pa.float64()),
            "lon": pa.array(rng.uniform(-180, 180, n_queries), pa.float64()),
        }
    )
    return {
        "points": points,
        "polygons": polygons,
        "queries": queries,
        "targets": targets,
        "rings": rings,
    }


def ray_cast(ring: np.ndarray, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Even-odd point-in-polygon (PNPOLY, half-open crossing rule); points
    outside the ring's bounding box are outside."""
    out = np.zeros(len(lon), dtype=bool)
    near = np.nonzero(
        (lon >= ring[:, 0].min()) & (lon <= ring[:, 0].max())
        & (lat >= ring[:, 1].min()) & (lat <= ring[:, 1].max())
    )[0]
    x1, y1 = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
    x2, y2 = ring[1:, 0][None, :], ring[1:, 1][None, :]
    px, py = lon[near][:, None], lat[near][:, None]
    straddle = (y1 <= py) != (y2 <= py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    out[near] = ((straddle & (px < xint)).sum(axis=1) % 2) == 1
    return out


def haversine_m(lat1, lon1, lat2, lon2) -> np.ndarray:
    r = 6371008.8
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp, dl = p2 - p1, np.radians(lon2) - np.radians(lon1)
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * r * np.arcsin(np.sqrt(np.minimum(a, 1.0)))
