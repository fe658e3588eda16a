"""The seeded workloads: input generators, pipeline runs, independent
output checks and the cumulative-prefix layer traces.

Two workloads are listed: `import_osm`, and `web_mix`, which runs the
`spine_geotag`, `curate_dedup` and `skew_join` pipelines back to back in
one closed-loop iteration.

Each workload generates its inputs from the seed with NumPy on the driver,
hands Spark only the generated frames, and calls the package through public
functions of `imposm2_spark.{sources,functions,kernels,operators,plans}`.
Expected outputs are computed without the engine (NumPy, DuckDB, or the
hand-verified per-replica fixture goldens), once per seed.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager
from hashlib import blake2b

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from imposm2_spark.sources import fixtures

# ---------------------------------------------------------------------------
# shared generators and sinks
# ---------------------------------------------------------------------------
_SYL = ("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ber", "dan", "fel",
        "gor", "hin", "jor", "kel", "mar", "nor", "pel", "ros", "tam")
# a fixed 2000-word content vocabulary (pseudo-words, ASCII only); the seed
# chooses among them, so texts differ per seed while the vocabulary does not
VOCAB = np.array(sorted({a + b + c for a in _SYL for b in _SYL for c in _SYL})[:2000])
EN_STOP = np.array(["the", "and", "of", "to", "in", "is", "a", "that", "for", "it"])
DE_STOP = np.array(["der", "die", "und", "das", "ist", "von", "zu", "mit", "den", "ein"])


def draw_words(rng: np.random.Generator, n_words: int, stop: np.ndarray, stop_share: float = 0.3) -> list[str]:
    words = VOCAB[rng.integers(0, len(VOCAB), n_words)]
    is_stop = rng.random(n_words) < stop_share
    words[is_stop] = stop[rng.integers(0, len(stop), int(is_stop.sum()))]
    return list(words)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def observed_salt(df) -> int:
    """The salt fan-out a join frame was built with, read from its analyzed
    plan (the replica explode over sequence(0, k - 1)); 1 when unsalted."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return 1 + max([int(v) for v in re.findall(r"sequence\(0, (\d+)", plan)] or [0])


def _persist(df):
    df = df.persist()
    df.count()
    return df


# ---------------------------------------------------------------------------
# spine_geotag
# ---------------------------------------------------------------------------
def _fallback(url: str) -> tuple[int, int]:
    """The frozen url-hash geotag rule (functions/geotag.py module docstring)
    on the 0.0001-degree grid: (lon index, lat index)."""
    def h(salt: bytes) -> int:
        return int.from_bytes(blake2b(url.encode(), digest_size=8, salt=salt).digest(), "big")
    return h(b"lon") % 3_600_000, h(b"lat") % 1_701_000


def _grid_coord(rng, n: int, span: int) -> np.ndarray:
    """n coordinates in [0, span) 0.0001-degree units whose last digit is odd:
    never on a polygon edge or a z<=5 tile edge (all multiples of 0.01)."""
    return rng.integers(0, span // 10, n) * 10 + rng.choice([1, 3, 5, 7, 9], n)


def ray_cast(rings, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Even-odd point-in-polygon over all rings (no point may lie on an edge)."""
    inside = np.zeros(len(x), dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        for (ax, ay), (bx, by) in zip(r[:-1], r[1:]):
            crosses = (ay > y) != (by > y)
            if not crosses.any():
                continue
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = ax + (y - ay) * (bx - ax) / (by - ay)
            inside ^= crosses & (x < xint)
    return inside


def tile_xy(lon: np.ndarray, lat: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << z
    x = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1)
    latc = np.radians(np.clip(lat, -85.05112878, 85.05112878))
    y = np.clip(np.floor((1.0 - np.arcsinh(np.tan(latc)) / np.pi) / 2.0 * n), 0, n - 1)
    return x.astype(np.int64), y.astype(np.int64)


class SpineGeotag:
    name = "spine_geotag"
    rows_are = "docs"
    trace_reps = 3  # a single span of a prefix still carries first-call costs of its plan
    zooms = (2, 5)
    cell_level = 4

    def __init__(self, spark, scale: float):
        self.spark = spark
        self.n = max(400, int(20_000 * scale))

    def size(self) -> dict:
        return {"docs": self.n, "polygons": 33, "cell_level": self.cell_level, "zooms": list(self.zooms)}

    def rows(self, inputs) -> int:
        return self.n

    def polygon_rows(self) -> pd.DataFrame:
        return pd.concat([
            fixtures.make_world_octants(self.cell_level),
            fixtures.make_polygons_admin(self.cell_level),
        ], ignore_index=True)

    def generate(self, seed: int) -> dict:
        rng = np.random.default_rng([seed, 11])
        n = self.n
        uid = rng.choice(10 * n, n, replace=False)
        lon_i = _grid_coord(rng, n, 3_600_000)
        lat_i = _grid_coord(rng, n, 1_700_000)
        has_meta = rng.random(n) >= 0.1  # every tenth doc falls back to the url hash
        n_words = rng.integers(20, 70, n)
        urls, htmls, texts, lons, lats, n_chars = [], [], [], [], [], []
        for i in range(n):
            url = f"https://example.org/d/{uid[i]:010d}"
            title = f"D{uid[i]}"
            text = " ".join(draw_words(rng, int(n_words[i]), EN_STOP))
            if has_meta[i]:
                lon = float(f"{lon_i[i] / 10_000.0 - 180.0:.4f}")
                lat = float(f"{lat_i[i] / 10_000.0 - 85.0:.4f}")
                meta = f'<meta name="geo.position" content="{lat:.4f};{lon:.4f}"/>'
            else:
                v = 0
                while True:  # keep url-hash points off the 0.01-degree grid too
                    fx, fy = _fallback(url)
                    if fx % 100 and fy % 100:
                        break
                    v += 1
                    url = f"https://example.org/d/{uid[i]:010d}?v={v}"
                lon = fx / 10_000.0 - 180.0
                lat = fy / 10_000.0 - 85.05
                meta = ""
            html = (f"<html><head><title>{title}</title>{meta}</head>"
                    f"<body><p>{text}</p></body></html>").encode()
            urls.append(url)
            htmls.append(html)
            texts.append(text)
            lons.append(lon)
            lats.append(lat)
            # extraction joins the title and body text with one space
            n_chars.append(len(title) + 1 + len(text))
        langs = np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n)]
        docs = pd.DataFrame({"url": urls, "html": htmls, "text": texts, "lang": langs})
        known = pd.DataFrame({"url": urls, "lon": lons, "lat": lats, "n_chars": n_chars})
        return {"docs": docs, "known": known}

    def materialise(self, raw) -> dict:
        s = self.spark
        docs = _persist(s.createDataFrame(raw["docs"], "url string, html binary, text string, lang string"))
        polys = _persist(fixtures.world_octants_df(s, cell_level=self.cell_level).unionByName(
            fixtures.polygons_admin_df(s, cell_level=self.cell_level)))
        return {"docs": docs, "polys": polys}

    def run(self, inputs):
        from imposm2_spark.plans.pipeline import spine

        out = spine(inputs["docs"], inputs["polys"], zooms=self.zooms, cell_level=self.cell_level)
        return {(r["z"], r["x"], r["y"]): (r["n_docs"], r["n_polygons"], r["sum_chars"]) for r in out.collect()}

    def reference(self, raw):
        k = raw["known"]
        lon, lat, nc = k["lon"].to_numpy(), k["lat"].to_numpy(), k["n_chars"].to_numpy()
        parts = []
        for pid, rings in zip(*[self.polygon_rows()[c] for c in ("polygon_id", "rings")]):
            hit = np.flatnonzero(ray_cast(rings, lon, lat))
            parts.append(pd.DataFrame({"doc": hit, "pid": pid}))
        pairs = pd.concat(parts, ignore_index=True)
        out = {}
        for z in self.zooms:
            x, y = tile_xy(lon[pairs["doc"]], lat[pairs["doc"]], z)
            t = pd.DataFrame({"x": x, "y": y, "pid": pairs["pid"], "nc": nc[pairs["doc"]]})
            g = t.groupby(["x", "y"]).agg(n=("pid", "size"), p=("pid", "nunique"), c=("nc", "sum"))
            for (tx, ty), r in g.iterrows():
                out[(z, int(tx), int(ty))] = (int(r["n"]), int(r["p"]), int(r["c"]))
        return out

    def check(self, got, expected) -> list[str]:
        errs = []
        for z in self.zooms:
            a = sum(v[0] for t, v in got.items() if t[0] == z)
            b = sum(v[0] for t, v in expected.items() if t[0] == z)
            if a != b:
                errs.append(f"zoom {z}: n_docs total {a} != {b}")
        if got != expected:
            bad = sorted(set(got.items()) ^ set(expected.items()))[:3]
            errs.append(f"{len(set(got.items()) ^ set(expected.items()))} tile rows differ, e.g. {bad}")
        return errs

    def trace(self, tracer, inputs, raw, reps: int) -> dict:
        """Spine layers. The fused extract+geotag crossing is a private helper
        of plans.pipeline.spine, so it is not called: the PIP and tile layers
        are timed as cumulative prefixes over a twin frame that already holds
        the enriched columns (taken from the generator), and the enrich layer
        is the full spine minus scan, PIP and tiles. Its Python-side counters
        come from the full run's Python-node SQL metrics."""
        from imposm2_spark.operators.pip import pip_join
        from imposm2_spark.operators.tiles import assign_point_tiles

        docs, polys = inputs["docs"], inputs["polys"]
        pts = _persist(self.spark.createDataFrame(raw["known"], "url string, lon double, lat double, n_chars long"))
        keep = ["url", "lon", "lat", "n_chars"]
        eager, salt = [], []

        def pip_count():
            t0 = time.perf_counter()
            j = pip_join(pts, polys, cell_level=self.cell_level, keep_point_cols=keep)
            eager.append(time.perf_counter() - t0)
            salt.append(observed_salt(j))
            return j.count()

        def tiles():
            j = pip_join(pts, polys, cell_level=self.cell_level, keep_point_cols=keep)
            t = assign_point_tiles(j, list(self.zooms))
            return t.groupBy("z", "x", "y").agg(
                F.count("*").alias("n_docs"), F.countDistinct("polygon_id").alias("n_polygons"),
                F.sum("n_chars").alias("sum_chars")).collect()

        scan = tracer.prefix("sources.scan", lambda: noop(docs.select("url", "html")), reps)
        twin_scan = tracer.prefix("twin.scan", lambda: noop(pts), reps)
        pip = tracer.prefix("operators.pip", pip_count, reps, extends="twin.scan")
        til = tracer.prefix("operators.tiles", tiles, reps, extends="operators.pip")
        pts.unpersist()
        full = tracer.prefix("plans.full", lambda: self.run(inputs), reps, extends="sources.scan")

        cand = pip.counter(lambda c: c.sql_total("Join", "number of output rows"))
        matches = pip.spans[0].result
        return {
            "layers": {
                "sources.scan.self_s": scan.wall,
                "functions.enrich.self_s": full.wall - scan.wall - (til.wall - twin_scan.wall),
                "operators.pip.self_s": pip.wall - twin_scan.wall,
                "operators.tiles.self_s": til.wall - pip.wall,
            },
            "counts": {
                "functions.enrich.py_run_s": full.counter(lambda c: c.sql_total("EvalPython", "time to run Python workers", "html")),
                "functions.enrich.py_sent_mb": full.counter(lambda c: c.sql_total("EvalPython", "data sent to Python workers", "html")) / 2**20,
                "functions.enrich.py_recv_mb": full.counter(lambda c: c.sql_total("EvalPython", "data returned from Python workers", "html")) / 2**20,
                "operators.pip.candidates": cand,
                "operators.pip.matches": matches,
                "operators.pip.refine_yield": matches / cand if cand else 0.0,
                "operators.pip.eager_s": median(eager),
                "operators.pip.salt_factor": float(median(salt)),
                "operators.tiles.shuffle_mb": til.counter(lambda c: c.shuffle_write_mb) - pip.counter(lambda c: c.shuffle_write_mb),
            },
            "full": full,
        }


# ---------------------------------------------------------------------------
# curate_dedup
# ---------------------------------------------------------------------------
def curate_reference(docs: pd.DataFrame) -> dict:
    """The curate oracle (plans.registry.oracle_sql()['curate_corpus'])
    re-expressed in Python/NumPy: quality + language gate, exact dedup by
    text, MinHash-LSH candidates over 4 bands, Jaccard >= 0.5 verification,
    union-find connected components, per-language (kept docs, token total).
    Written for the generator's texts (ASCII words joined by single spaces)."""
    from imposm2_spark.functions.text_analysis import CHAR_MOD, LANG_ORDER, LANG_STOPWORDS
    from imposm2_spark.operators.dedup import BAND_ROWS, MINHASH_P, N_BANDS, PERMS, SHINGLE_N

    combine = 8191  # the frozen shingle/band combiner of operators.dedup
    stops = {lang: set(LANG_STOPWORDS[lang]) for lang in LANG_ORDER}
    gated = {}
    for doc_id, text in zip(docs["doc_id"].tolist(), docs["text"].tolist()):
        toks = text.split()
        n_tok, n = len(toks), max(len(text), 1)
        alpha = sum(c.isascii() and c.isalpha() for c in text)
        punct = sum(not (c.isascii() and (c.isalnum() or c.isspace())) for c in text)
        hits = {lang: sum(t.lower() in stops[lang] for t in toks) for lang in LANG_ORDER}
        q = round(max(0.0, min(1.0, 0.5 * (alpha / n) + 0.3 * (hits["en"] / max(n_tok, 1))
                               + 0.2 * min(n_tok / 100.0, 1.0) - 0.5 * (punct / n))), 6)
        if q >= 0.3 and hits["en"] > 0 and all(hits["en"] >= hits[lang] for lang in LANG_ORDER):
            gated[doc_id] = (text, n_tok)
    first = {}
    for doc_id in sorted(gated):
        first.setdefault(gated[doc_id][0], doc_id)
    exact = sorted(first.values())

    token_hash = {}

    def char_hash(tok: str) -> int:
        h = token_hash.get(tok)
        if h is None:
            h = 0
            for ch in tok:
                h = (h * 31 + ord(ch)) % CHAR_MOD
            token_hash[tok] = h
        return h

    shingles, owners = [], []
    for doc_id in exact:
        th = np.array([char_hash(t) for t in gated[doc_id][0].split(" ")], dtype=np.int64)
        if len(th) < SHINGLE_N:
            continue
        sh = ((th[:-2] * combine + th[1:-1]) % CHAR_MOD * combine + th[2:]) % CHAR_MOD
        shingles.append(sh)
        owners.append(doc_id)
    starts = np.cumsum([0] + [len(x) for x in shingles[:-1]])
    flat = np.concatenate(shingles) if shingles else np.zeros(0, dtype=np.int64)
    sig = np.stack([np.minimum.reduceat((a * flat + b) % MINHASH_P, starts) for a, b in PERMS], axis=1)
    buckets: dict = {}
    for i, doc_id in enumerate(owners):
        for b in range(N_BANDS):
            key = int(sig[i, BAND_ROWS * b])
            for r in range(1, BAND_ROWS):
                key = (key * combine + int(sig[i, BAND_ROWS * b + r])) % MINHASH_P
            buckets.setdefault((b, key), []).append(i)
    sets = [set(x.tolist()) for x in shingles]
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    seen = set()
    for members in buckets.values():
        for ai in range(len(members)):
            for bi in range(ai + 1, len(members)):
                i, j = members[ai], members[bi]
                if (i, j) in seen:
                    continue
                seen.add((i, j))
                if round(len(sets[i] & sets[j]) / len(sets[i] | sets[j]), 9) >= 0.5:
                    ri, rj = find(owners[i]), find(owners[j])
                    if ri != rj:
                        parent[max(ri, rj)] = min(ri, rj)
    kept = [d for d in exact if find(d) == d]
    return {"en": (len(kept), sum(gated[d][1] for d in kept))} if kept else {}


class CurateDedup:
    name = "curate_dedup"
    rows_are = "docs"
    trace_reps = 1
    # fixed shares of the corpus (the rest are unique English-like docs)
    share_exact = 0.20  # verbatim copies of an earlier doc under a new id
    share_near = 0.25   # members of near-duplicate clusters of 2-4 docs
    share_gated = 0.10  # German-stopword or digit-heavy docs the gate drops

    def __init__(self, spark, scale: float):
        self.spark = spark
        self.n = max(400, int(8_000 * scale))

    def size(self) -> dict:
        return {"docs": self.n, "share_exact_dup": self.share_exact,
                "share_near_dup": self.share_near, "share_gated_out": self.share_gated}

    def rows(self, inputs) -> int:
        return self.n

    def generate(self, seed: int) -> dict:
        rng = np.random.default_rng([seed, 22])
        n = self.n
        n_exact = int(n * self.share_exact)
        n_near = int(n * self.share_near)
        n_gated = int(n * self.share_gated)
        n_unique = n - n_exact - n_near - n_gated
        texts: list[str] = []
        for _ in range(n_unique):
            texts.append(" ".join(draw_words(rng, int(rng.integers(40, 90)), EN_STOP)))
        while len(texts) < n_unique + n_near:
            base = draw_words(rng, int(rng.integers(40, 90)), EN_STOP)
            for _ in range(min(int(rng.integers(2, 5)), n_unique + n_near - len(texts))):
                v = list(base)
                for pos in rng.integers(0, len(v), int(rng.integers(1, 3))):
                    v[pos] = VOCAB[rng.integers(0, len(VOCAB))]
                texts.append(" ".join(v))
        for i in range(n_gated):
            if i % 2:
                texts.append(" ".join(draw_words(rng, int(rng.integers(40, 90)), DE_STOP)))
            else:  # digits and punctuation only: quality far below the gate
                texts.append(" ".join(f"{rng.integers(10**6, 10**8)};#@" for _ in range(30)))
        src = rng.integers(0, len(texts), n_exact)
        texts.extend(texts[i] for i in src)
        order = rng.permutation(n)
        ids = np.sort(rng.choice(20 * n, n, replace=False))
        return {"docs": pd.DataFrame({"doc_id": ids, "text": [texts[i] for i in order]})}

    def materialise(self, raw) -> dict:
        return {"docs": _persist(self.spark.createDataFrame(raw["docs"], "doc_id long, text string"))}

    def run(self, inputs):
        from imposm2_spark.plans.curate import curate, curate_stats

        kept = curate(inputs["docs"], min_quality=0.3, langs=("en",), neardup_threshold=0.5)
        return {r["lang_pred"]: (r["n_docs"], r["total_tokens"]) for r in curate_stats(kept).collect()}

    def reference(self, raw):
        return curate_reference(raw["docs"])

    @staticmethod
    def duckdb_oracle(docs: pd.DataFrame) -> dict:
        """The repo's DuckDB curate oracle on the same table. It is slow (its
        recursive connected-components CTE), so the self-test uses it to
        validate curate_reference at a small size instead of every run."""
        import duckdb

        from imposm2_spark.plans.registry import oracle_sql

        con = duckdb.connect(config={"threads": 4, "memory_limit": "1GB"})
        try:
            con.register("documents", docs)
            rows = con.execute(oracle_sql()["curate_corpus"]).fetchall()
        finally:
            con.close()
        return {lang: (int(n), int(tok)) for lang, n, tok, _ in rows}

    def check(self, got, expected) -> list[str]:
        return [] if got == expected else [f"per-language (kept, tokens) {got} != oracle {expected}"]

    def trace(self, tracer, inputs, raw, reps: int) -> dict:
        """Curate layers as cumulative prefixes rebuilt from the public stage
        functions that plans.curate.curate composes (scoring kernel + gate,
        exact dedup, LSH pairs, connected components), caching the same
        frames curate caches; the anti-join and stats fall to plans.self_s."""
        from imposm2_spark.functions.text_analysis import doc_stats_udf, stats_lang, stats_quality
        from imposm2_spark.operators.dedup import dedup_connected_components, minhash_lsh_pairs

        docs = inputs["docs"]
        held = []

        def scored():
            s = doc_stats_udf()(F.col("text"))
            return docs.select("doc_id", "text", s.alias("_s")).select(
                "doc_id", "text", stats_lang(F.col("_s")).alias("lang_pred"),
                F.round(stats_quality(F.col("_s")), 6).alias("quality"),
                F.col("_s.n_ws").alias("n_tokens"))

        def gated():
            g = scored().where((F.col("quality") >= 0.3) & (F.col("lang_pred") == "en")).persist()
            held.append(g)
            return g

        def exact():
            g = gated()
            keepers = g.groupBy(F.md5("text").alias("_h")).agg(F.min("doc_id").alias("doc_id"))
            e = g.join(keepers, "doc_id", "left_semi").persist()
            held.append(e)
            return e

        def release(result):
            while held:
                held.pop().unpersist()
            return result

        def score_counts():
            q = (F.col("quality") >= 0.3) & (F.col("lang_pred") == "en")
            r = scored().agg(F.count("*").alias("n"), F.sum(q.cast("long")).alias("g")).first()
            return r["n"], r["g"]

        def lsh(threshold):
            return lambda: release(minhash_lsh_pairs(exact(), threshold=threshold).count())

        scan = tracer.prefix("sources.scan", lambda: noop(docs.select("doc_id", "text")), reps)
        score = tracer.prefix("functions.score", score_counts, reps, extends="sources.scan")
        ex = tracer.prefix("operators.dedup.exact", lambda: release(exact().count()), reps,
                           extends="functions.score")
        ls = tracer.prefix("operators.dedup.lsh", lsh(0.5), reps, extends="operators.dedup.exact")
        cc = tracer.prefix("operators.dedup.cc", lambda: release(
            dedup_connected_components(minhash_lsh_pairs(exact(), threshold=0.5)).count()), reps,
            extends="operators.dedup.lsh")
        full = tracer.prefix("plans.full", lambda: self.run(inputs), reps, extends="operators.dedup.cc")
        cands = tracer.prefix("operators.dedup.lsh_candidates", lsh(0.0), 1)

        n_scored, n_gated = score.spans[0].result
        n_exact = ex.spans[0].result
        n_verified = ls.spans[0].result
        n_cand = cands.spans[0].result
        return {
            "layers": {
                "sources.scan.self_s": scan.wall,
                "functions.score.self_s": score.wall - scan.wall,
                "operators.dedup.exact.self_s": ex.wall - score.wall,
                "operators.dedup.lsh.self_s": ls.wall - ex.wall,
                "operators.dedup.cc.self_s": cc.wall - ls.wall,
            },
            "counts": {
                "functions.score.py_run_s": score.counter(lambda c: c.sql_total("EvalPython", "time to run Python workers")),
                "functions.score.gate_pass_ratio": n_gated / n_scored if n_scored else 0.0,
                "operators.dedup.exact_keep_ratio": n_exact / n_gated if n_gated else 0.0,
                "operators.dedup.lsh_candidates": n_cand,
                "operators.dedup.lsh_verified_ratio": n_verified / n_cand if n_cand else 0.0,
                "operators.dedup.cc.jobs": cc.counter(lambda c: c.jobs) - ls.counter(lambda c: c.jobs),
            },
            "full": full,
        }


# ---------------------------------------------------------------------------
# import_osm
# ---------------------------------------------------------------------------
ID_SPACE = 10_000_000  # per-replica id block; fixture ids stay below 10^6
# per-replica goldens of the MP-01..09 + street-grid fixture (FIXTURES.md §2:
# 81 grid blocks, landusages rows incl. MP-08 way 81 emitted twice, 4 named
# residential streets + the MP-08 track, the MP-02 lake). The generalized
# chain keeps all 8 landusages at area >= 50 and the 6 with area >= 100.
GOLDEN_ROWS = {"buildings": 81, "landusages": 8, "minorroads": 5, "waterareas": 1,
               "landusages_gen1": 8, "landusages_gen0": 6}
GOLDEN_LANDUSAGES_AREA = 96.0 + 160.0 + 96.0 + 100.0 * 5


class ImportOsm:
    name = "import_osm"
    rows_are = "OSM elements"
    trace_reps = 1

    def __init__(self, spark, scale: float):
        self.spark = spark
        self.k = max(2, int(12 * scale))

    def size(self) -> dict:
        return {"replicas": self.k, "elements_per_replica": 269}

    def rows(self, inputs) -> int:
        return inputs["n_elements"]

    def generate(self, seed: int) -> dict:
        """K copies of the fixture, each under its own seeded id block and
        integer translation (so every copy keeps the fixture's geometry)."""
        rng = np.random.default_rng([seed, 33])
        id_offs = rng.choice(50 * self.k, self.k, replace=False) * ID_SPACE
        dxs, dys = rng.integers(-60, 61, self.k), rng.integers(-30, 31, self.k)
        nodes0, ways0, rels0 = fixtures.make_osm_fixture()
        nodes, ways, rels = [], [], []
        for off, dx, dy in zip(id_offs.tolist(), dxs.tolist(), dys.tolist()):
            nodes += [(i + off, lon + dx, lat + dy, tags) for i, lon, lat, tags in nodes0]
            ways += [(i + off, [r + off for r in refs], tags) for i, refs, tags in ways0]
            rels += [(i + off, [{"ref": r + off, "type": t, "role": ro} for r, t, ro in members], tags)
                     for i, members, tags in rels0]
        return {"nodes": nodes, "ways": ways, "rels": rels}

    def materialise(self, raw) -> dict:
        s = self.spark
        return {
            "nodes": _persist(s.createDataFrame(raw["nodes"], fixtures.OSM_NODES_SCHEMA)),
            "ways": _persist(s.createDataFrame(raw["ways"], fixtures.OSM_WAYS_SCHEMA)),
            "rels": _persist(s.createDataFrame(raw["rels"], fixtures.OSM_RELATIONS_SCHEMA)),
            "n_elements": len(raw["nodes"]) + len(raw["ways"]) + len(raw["rels"]),
        }

    def _import(self, inputs):
        from imposm2_spark.operators import defaultmapping as dm
        from imposm2_spark.plans.import_pipeline import import_tables

        return import_tables(self.spark, inputs["nodes"], inputs["ways"], inputs["rels"], dm.ALL_SPECS)

    def _count_tables(self, out) -> dict:
        return {t: df.count() for t, df in sorted(out.items()) if t != "landusages"}

    def run(self, inputs):
        from imposm2_spark.operators import defaultmapping as dm
        from imposm2_spark.operators.generalize import materialize_generalized

        out = self._import(inputs)
        got = self._count_tables(out)
        lu = out["landusages"].agg(F.count("*").alias("n"), F.sum("area").alias("a")).first()
        got["landusages"] = lu["n"]
        got["landusages_area"] = lu["a"] or 0.0
        gen = materialize_generalized(out, [dm.LANDUSAGES_GEN1, dm.LANDUSAGES_GEN0])
        for t in ("landusages_gen1", "landusages_gen0"):
            got[t] = gen[t].count()
        return got

    def reference(self, raw):
        from imposm2_spark.operators import defaultmapping as dm

        exp = {s.name: self.k * GOLDEN_ROWS.get(s.name, 0) for s in dm.ALL_SPECS}
        exp["landusages_gen1"] = self.k * GOLDEN_ROWS["landusages_gen1"]
        exp["landusages_gen0"] = self.k * GOLDEN_ROWS["landusages_gen0"]
        exp["landusages_area"] = self.k * GOLDEN_LANDUSAGES_AREA
        return exp

    def check(self, got, expected) -> list[str]:
        errs = [f"{t}: {got.get(t)} != {v}" for t, v in expected.items()
                if t != "landusages_area" and got.get(t) != v]
        if abs(got.get("landusages_area", 0.0) - expected["landusages_area"]) > 1e-6 * expected["landusages_area"]:
            errs.append(f"landusages area {got.get('landusages_area')} != {expected['landusages_area']}")
        return errs

    def trace(self, tracer, inputs, raw, reps: int) -> dict:
        """Import layers as cumulative prefixes rebuilt from the public
        operators that plans.import_pipeline.import_tables composes (tag
        routing, way assembly, relation assembly, way geometries), caching
        what import_tables caches; then the real import_tables with every
        table counted (field mapping and the table fan-out), then the full
        run with the generalized chain."""
        from imposm2_spark.operators import assemble as A
        from imposm2_spark.operators import defaultmapping as dm
        from imposm2_spark.operators import mapping as M
        from imposm2_spark.plans.import_pipeline import INTERESTING_RELATION_TYPES

        spark = self.spark
        keys = M.spec_tag_keys(dm.ALL_SPECS)
        nodes = M.prune_tags(inputs["nodes"], keys)
        ways = M.prune_tags(inputs["ways"], keys)
        rels = M.prune_tags(inputs["rels"], keys).where(
            F.element_at("tags", "type").isin(*INTERESTING_RELATION_TYPES))
        pt_specs = [s for s in dm.ALL_SPECS if s.geom_type == M.GEOM_POINT]
        way_specs = [s for s in dm.ALL_SPECS if s.geom_type in (M.GEOM_LINESTRING, M.GEOM_POLYGON)]
        held = []

        def cached(df):
            df = df.cache()
            held.append(df)
            return df

        def release(result=None):
            while held:
                held.pop().unpersist()
            return result

        def route():
            routed_ways = cached(M.route(ways, way_specs, spark))
            noop(A.with_point_wkb(M.route(nodes, pt_specs, spark)))
            noop(routed_ways)
            return routed_ways

        def assembled_ways():
            routed_ways = route()
            member_ids = rels.select(F.explode("members").alias("m")).where(
                F.col("m.type") == "way").select(F.col("m.ref").alias("id")).distinct()
            needed = routed_ways.select("id").distinct().unionByName(member_ids).distinct()
            aw = cached(A.assemble_ways(ways.join(needed, "id", "left_semi"), nodes.select("id", "lon", "lat")))
            noop(aw)
            return aw

        def relations():
            aw = assembled_ways()
            rel_out = cached(A.assemble_relations(rels, aw))
            n = rel_out.count()
            return aw, rel_out, n

        def polygons():
            aw, rel_out, _ = relations()
            surviving = A.suppress_inserted_ways(aw, rel_out)
            noop(A.way_linestrings(surviving))
            noop(A.way_polygons(surviving))

        n_rels = rels.count()
        rt = tracer.prefix("operators.mapping.route", lambda: release(route() and None), reps)
        wy = tracer.prefix("operators.assemble.ways", lambda: release(assembled_ways() and None), reps,
                           extends="operators.mapping.route")
        rl = tracer.prefix("operators.assemble.relations", lambda: release(relations()[2]), reps,
                           extends="operators.assemble.ways")
        pg = tracer.prefix("operators.assemble.polygons", lambda: release(polygons()), reps,
                           extends="operators.assemble.relations")
        fl = tracer.prefix("operators.mapping.fields", lambda: self._count_tables(self._import(inputs)), reps,
                           extends="operators.assemble.polygons")
        full = tracer.prefix("plans.full", lambda: self.run(inputs), reps, extends="operators.mapping.fields")
        return {
            "layers": {
                "operators.mapping.route.self_s": rt.wall,
                "operators.assemble.ways.self_s": wy.wall - rt.wall,
                "operators.assemble.relations.self_s": rl.wall - wy.wall,
                "operators.assemble.polygons.self_s": pg.wall - rl.wall,
                "operators.mapping.fields.self_s": fl.wall - pg.wall,
                "operators.generalize.self_s": full.wall - fl.wall,
            },
            "counts": {"operators.assemble.relations_dropped": n_rels - rl.spans[0].result},
            "full": full,
        }


# ---------------------------------------------------------------------------
# skew_join
# ---------------------------------------------------------------------------
class SkewJoin:
    name = "skew_join"
    rows_are = "probe points"
    trace_reps = 1
    pip_level = 12
    knn_level = 6
    k = 3

    def __init__(self, spark, scale: float):
        self.spark = spark
        self.n_pip = max(1000, int(20_000 * scale))
        self.n_knn = max(100, int(3_000 * scale))
        self.n_sites = max(50, int(2_000 * scale))

    def size(self) -> dict:
        return {"pip_points": self.n_pip, "knn_points": self.n_knn, "knn_sites": self.n_sites,
                "k": self.k, "pip_cell_level": self.pip_level, "knn_level": self.knn_level}

    def rows(self, inputs) -> int:
        return self.n_pip + self.n_knn

    def dense_cell_box(self) -> tuple[float, float, float, float]:
        """The level-12 cell holding (0.044, 2.0), shrunk by a margin. Four
        admin grid polygons cover it (it touches lon = 0 and straddles the
        lat = 2 edge), so each point has four candidates and the refine keeps
        one: the polygon on its side of lat = 2."""
        from imposm2_spark.kernels import cells

        cell = cells.cell_encode(np.array([0.044]), np.array([2.0]), self.pip_level)
        x0, y0, x1, y1 = (float(v[0]) for v in cells.cell_bounds(cell))
        mx, my = (x1 - x0) * 1e-3, (y1 - y0) * 1e-3
        return x0 + mx, y0 + my, x1 - mx, y1 - my

    def generate(self, seed: int) -> dict:
        rng = np.random.default_rng([seed, 44])
        x0, y0, x1, y1 = self.dense_cell_box()
        pts = pd.DataFrame({
            "pid": rng.choice(20 * self.n_pip, self.n_pip, replace=False).astype(np.int64),
            "lon": rng.uniform(x0, x1, self.n_pip), "lat": rng.uniform(y0, y1, self.n_pip)})
        kpts = pd.DataFrame({
            "doc_id": rng.choice(20 * self.n_knn, self.n_knn, replace=False).astype(np.int64),
            "lon": rng.uniform(1e-4, 0.4, self.n_knn), "lat": rng.uniform(1e-4, 0.4, self.n_knn)})
        # every site in one level-6 cell (and well inside it)
        sites = pd.DataFrame({
            "site_id": rng.choice(20 * self.n_sites, self.n_sites, replace=False).astype(np.int64),
            "slon": rng.uniform(1e-4, 0.02, self.n_sites), "slat": rng.uniform(1e-4, 0.02, self.n_sites)})
        return {"pts": pts, "kpts": kpts, "sites": sites}

    def materialise(self, raw) -> dict:
        s = self.spark
        return {
            "pts": _persist(s.createDataFrame(raw["pts"], "pid long, lon double, lat double")),
            "kpts": _persist(s.createDataFrame(raw["kpts"], "doc_id long, lon double, lat double")),
            "sites": _persist(s.createDataFrame(raw["sites"], "site_id long, slon double, slat double")),
            "polys": _persist(fixtures.polygons_admin_df(s, cell_level=self.pip_level)),
        }

    def _pip(self, inputs):
        from imposm2_spark.operators.pip import pip_join

        return pip_join(inputs["pts"], inputs["polys"], cell_level=self.pip_level,
                        keep_point_cols=["pid"], broadcast_polygons=False)

    def _pip_sink(self, j) -> tuple:
        r = j.agg(F.count("*"), F.sum("pid"), F.sum(F.col("pid") * F.col("polygon_id"))).first()
        return tuple(int(v or 0) for v in r)

    def _knn(self, inputs) -> tuple:
        from imposm2_spark.operators.knn import knn_join

        res = knn_join(inputs["kpts"], inputs["sites"], k=self.k, level=self.knn_level, broadcast_sites=False)
        try:
            r = res.agg(F.count("*"), F.sum("site_id"), F.sum(F.col("doc_id") * F.col("site_id")),
                        F.sum(F.col("rank") * F.col("site_id"))).first()
        finally:
            res.unpersist()  # knn_join hands its persisted result to the caller
        return tuple(int(v or 0) for v in r)

    @contextmanager
    def no_broadcast(self):
        """Broadcast joins off while the skewed joins plan and run, standing
        for a polygon or site side too big to broadcast."""
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = self.spark.conf.get(key)
        self.spark.conf.set(key, "-1")
        try:
            yield
        finally:
            self.spark.conf.set(key, old)

    def run(self, inputs):
        with self.no_broadcast():
            return {"pip": self._pip_sink(self._pip(inputs)), "knn": self._knn(inputs)}

    def reference(self, raw):
        import duckdb

        rects = []
        for pid, rings in zip(*[fixtures.make_polygons_admin(self.pip_level)[c] for c in ("polygon_id", "rings")]):
            xs = [np.asarray(r) for r in rings]
            hole = xs[1] if len(xs) > 1 else None
            rects.append({
                "polygon_id": pid, "x0": xs[0][:, 0].min(), "y0": xs[0][:, 1].min(),
                "x1": xs[0][:, 0].max(), "y1": xs[0][:, 1].max(), "has_hole": hole is not None,
                "hx0": hole[:, 0].min() if hole is not None else 0.0, "hy0": hole[:, 1].min() if hole is not None else 0.0,
                "hx1": hole[:, 0].max() if hole is not None else 0.0, "hy1": hole[:, 1].max() if hole is not None else 0.0,
            })
        con = duckdb.connect(config={"threads": 4, "memory_limit": "1GB"})
        try:
            con.register("pts", raw["pts"])
            con.register("rects", pd.DataFrame(rects))
            pip = con.execute("""
                SELECT count(*), sum(pid), sum(pid * polygon_id) FROM pts JOIN rects
                  ON lon >= x0 AND lon < x1 AND lat >= y0 AND lat < y1
                 AND NOT (has_hole AND lon >= hx0 AND lon < hx1 AND lat >= hy0 AND lat < hy1)
            """).fetchone()
        finally:
            con.close()
        return {"pip": tuple(int(v or 0) for v in pip), "knn": self._knn_brute(raw["kpts"], raw["sites"])}

    def _knn_brute(self, kpts: pd.DataFrame, sites: pd.DataFrame) -> tuple:
        """Exact kNN in NumPy over planar web-mercator units (the distance the
        operator documents), ties broken by site id."""
        def merc(lon, lat):
            t = np.tan(np.radians(np.clip(lat, -85.05112878, 85.05112878)))
            return (lon + 180.0) / 360.0, (1.0 - np.log(t + np.sqrt(t * t + 1.0)) / np.pi) / 2.0

        px, py = merc(kpts["lon"].to_numpy(), kpts["lat"].to_numpy())
        sx, sy = merc(sites["slon"].to_numpy(), sites["slat"].to_numpy())
        sid = sites["site_id"].to_numpy()
        by_id = np.argsort(sid, kind="stable")
        sx, sy, sid = sx[by_id], sy[by_id], sid[by_id]
        ids = kpts["doc_id"].to_numpy()
        n = s_site = s_doc = s_rank = 0
        for lo in range(0, len(px), 256):
            d2 = (px[lo:lo + 256, None] - sx[None, :]) ** 2 + (py[lo:lo + 256, None] - sy[None, :]) ** 2
            top = np.argsort(d2, axis=1, kind="stable")[:, : self.k]  # stable: equal d2 keeps id order
            for row, cols in enumerate(top):
                for rank, c in enumerate(cols, start=1):
                    n += 1
                    s_site += int(sid[c])
                    s_doc += int(ids[lo + row]) * int(sid[c])
                    s_rank += rank * int(sid[c])
        return (n, s_site, s_doc, s_rank)

    def check(self, got, expected) -> list[str]:
        return [f"{k}: {got[k]} != {expected[k]}" for k in ("pip", "knn") if got[k] != expected[k]]

    def trace(self, tracer, inputs, raw, reps: int) -> dict:
        with self.no_broadcast():
            return self._trace(tracer, inputs, reps)

    def _trace(self, tracer, inputs, reps: int) -> dict:
        eager, salt = [], []

        def pip():
            t0 = time.perf_counter()
            j = self._pip(inputs)
            eager.append(time.perf_counter() - t0)
            salt.append(observed_salt(j))
            return self._pip_sink(j)

        def scan():
            for k in ("pts", "kpts", "sites"):
                noop(inputs[k])

        sc = tracer.prefix("sources.scan", scan, reps)
        pp = tracer.prefix("operators.pip", pip, reps, extends="sources.scan")
        full = tracer.prefix("plans.full", lambda: self.run(inputs), reps, extends="operators.pip")
        kn = tracer.prefix("operators.knn.only", lambda: self._knn(inputs), 1)
        cand = pp.counter(lambda c: c.sql_total("Join", "number of output rows"))
        matches = pp.spans[0].result[0]
        return {
            "layers": {
                "sources.scan.self_s": sc.wall,
                "operators.pip.self_s": pp.wall - sc.wall,
                "operators.knn.self_s": full.wall - pp.wall,
            },
            "counts": {
                "operators.pip.candidates": cand,
                "operators.pip.matches": matches,
                "operators.pip.refine_yield": matches / cand if cand else 0.0,
                "operators.pip.salt_factor": float(median(salt)),
                "operators.pip.eager_s": median(eager),
                "operators.pip.task_skew": pp.counter(lambda c: c.task_skew),
                "operators.knn.jobs": kn.counter(lambda c: c.jobs),
                "operators.knn.task_skew": kn.counter(lambda c: c.task_skew),
            },
            "full": full,
        }


# ---------------------------------------------------------------------------
# web_mix: the spine, curate and skewed joins back to back
# ---------------------------------------------------------------------------
class _Parts:
    """The cumulative-prefix summary of a mix's full run: its parts' full
    runs back to back (so walls and counters add up)."""

    def __init__(self, names: list[str], fulls: list):
        self.fulls = fulls
        self.wall = sum(f.wall for f in fulls)
        # one span per part run, with that part's result under the part's name
        self.spans = [_PartSpan({n: f.spans[0].result}, max(f.spans[0].cache_mb for f in fulls))
                      for n, f in zip(names, fulls)]

    def counter(self, f) -> float:
        return sum(p.counter(f) for p in self.fulls)


class _PartSpan:
    def __init__(self, result: dict, cache_mb: float):
        self.result = result
        self.cache_mb = cache_mb


class WebMix:
    """One closed-loop iteration runs spine_geotag, curate_dedup and skew_join
    one after the other, each on its own seeded input. The three share one
    process, so they share its set-up and first-call costs, which dominate
    a fresh process at these sizes."""

    name = "web_mix"
    rows_are = "docs and probe points"
    trace_reps = 1
    # counts more than one part reports, and the part that owns them
    # (the broadcast path's PIP counts belong to the spine)
    owner = {"operators.pip.salt_factor": "skew_join", "operators.pip.eager_s": "skew_join"}

    def __init__(self, spark, scale: float):
        self.spark = spark
        self.parts = [SpineGeotag(spark, scale), CurateDedup(spark, scale), SkewJoin(spark, scale)]

    def size(self) -> dict:
        return {p.name: p.size() for p in self.parts}

    def rows(self, inputs) -> int:
        return sum(p.rows(inputs[p.name]) for p in self.parts)

    def generate(self, seed: int) -> dict:
        return {p.name: p.generate(seed) for p in self.parts}

    def materialise(self, raw) -> dict:
        return {p.name: p.materialise(raw[p.name]) for p in self.parts}

    def run(self, inputs):
        return {p.name: p.run(inputs[p.name]) for p in self.parts}

    def reference(self, raw):
        return {p.name: p.reference(raw[p.name]) for p in self.parts}

    def check(self, got, expected) -> list[str]:
        return [f"{p.name}: {e}" for p in self.parts if p.name in got
                for e in p.check(got[p.name], expected[p.name])]

    def trace(self, tracer, inputs, raw, reps: int) -> dict:
        """Each part's own trace. Layer self times add up over the parts;
        a count more than one part reports comes from its owner, else from
        the first part that reports it."""
        layers, counts, fulls = {}, {}, []
        for p in self.parts:
            t = p.trace(tracer, inputs[p.name], raw[p.name], p.trace_reps)
            for k, v in t["layers"].items():
                layers[k] = layers.get(k, 0.0) + v
            for k, v in t["counts"].items():
                if self.owner.get(k, p.name) == p.name and (k not in counts or k in self.owner):
                    counts[k] = v
            fulls.append(t["full"])
        return {"layers": layers, "counts": counts, "full": _Parts([p.name for p in self.parts], fulls)}


WORKLOADS = {w.name: w for w in (WebMix, ImportOsm)}
