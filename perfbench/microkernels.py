"""Kernel micro-timings: the public NumPy/Python kernels the Spark stages
call per Arrow batch, timed in the driver on one seeded, batch-sized input
with no Spark involved. A kernel optimisation moves these first."""

from __future__ import annotations

import statistics
import time

import numpy as np

from .workloads import EN_STOP, draw_words

BATCH = 10_000  # imposm2_spark.session.DEFAULT_ARROW_BATCH rows per Arrow batch


def _rate(fn, items: int, budget_s: float = 0.4, min_reps: int = 3) -> float:
    """items per second: median over repeated calls within a time budget."""
    times = []
    t_end = time.perf_counter() + budget_s
    while len(times) < min_reps or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return items / statistics.median(times)


def _fragmented_relations(rng, n_rel: int) -> list[list[np.ndarray]]:
    """Per relation: a 32-vertex outer ring cut into 4 open ways (one
    reversed, order shuffled) plus a closed square hole."""
    rels = []
    for _ in range(n_rel):
        cx, cy = rng.uniform(-100, 100, 2)
        t = np.linspace(0.0, 2 * np.pi, 33)[:-1]
        ring = np.c_[cx + 10 * np.cos(t), cy + 10 * np.sin(t)]
        ring = np.vstack([ring, ring[:1]])
        ways = [ring[i * 8 : i * 8 + 9] for i in range(4)]
        ways[1] = ways[1][::-1].copy()
        ways = [ways[i] for i in rng.permutation(4)]
        hole = np.array([[cx - 2, cy - 2], [cx + 2, cy - 2], [cx + 2, cy + 2], [cx - 2, cy + 2], [cx - 2, cy - 2]])
        rels.append(ways + [hole])
    return rels


def kernel_rates(seed: int) -> dict[str, float]:
    from imposm2_spark.functions.geotag import geotag_pair
    from imposm2_spark.functions.textx import extract_text_bytes
    from imposm2_spark.kernels import cells, geom, rings, simplify, texthash, textstats

    rng = np.random.default_rng([seed, 55])
    lon = rng.uniform(-12, 12, BATCH)
    lat = rng.uniform(-12, 12, BATCH)
    t = np.linspace(0.0, 2 * np.pi, 65)
    poly = [np.c_[10 * np.cos(t), 10 * np.sin(t)], np.c_[3 * np.cos(t[::-1]), 3 * np.sin(t[::-1])]]

    texts = [" ".join(draw_words(rng, int(n), EN_STOP)) for n in rng.integers(20, 70, BATCH)]
    urls = [f"https://example.org/d/{i:010d}" for i in range(BATCH)]
    htmls = [
        (f"<html><head><title>D{i}</title>"
         + (f'<meta name="geo.position" content="{lat[i]:.4f};{lon[i]:.4f}"/>' if i % 10 else "")
         + f"</head><body><p>{txt}</p></body></html>").encode()
        for i, txt in enumerate(texts)
    ]

    def enrich_body():
        for u, h in zip(urls, htmls):
            geotag_pair(u, h)
            extract_text_bytes(h)

    def minhash():
        for txt in texts:
            th = texthash.token_hashes_doc(txt)
            texthash.minhash_sig_from_shingles(texthash.shingle_hashes_from_tokens(th))

    rels = _fragmented_relations(rng, 200)

    def assemble():
        for ways in rels:
            rings.build_multipolygon(rings.merge_rings(ways))

    line = np.c_[np.arange(BATCH, dtype=np.float64), np.cumsum(rng.normal(0.0, 1.0, BATCH))]

    return {
        "kernels.geom.points_in_rings.pts_per_s": _rate(lambda: geom.points_in_rings(lon, lat, poly), BATCH),
        "kernels.cells.cell_encode.pts_per_s": _rate(lambda: cells.cell_encode(lon, lat, 12), BATCH),
        "functions.enrich_body.docs_per_s": _rate(enrich_body, BATCH),
        "kernels.textstats.batch_stats.docs_per_s": _rate(lambda: textstats.batch_stats(texts), BATCH),
        "kernels.texthash.minhash.docs_per_s": _rate(minhash, BATCH),
        "kernels.rings.assemble.rels_per_s": _rate(assemble, len(rels)),
        "kernels.simplify.dp_mask.pts_per_s": _rate(lambda: simplify.dp_mask(line, 2.0), BATCH),
    }
