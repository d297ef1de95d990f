"""The benchmark workloads.

Each workload generates its inputs and the expected answers for its
output checks from the seed alone (numpy, no Spark), hands only the
generated inputs to proj_spark, and runs one whole pipeline per
:meth:`Workload.iteration`, wrapping every call into an operator in a
tracer span (see ``spans.py``).  An iteration returns the names of the
output checks that failed; an empty list means every output was
verified.

* ``geo_pipeline`` - the Python-boundary workload: two CRS transforms,
  cell + tile, PIP against rectangles and a per-tile rollup, each stage
  checkpointed to parquet by ``CheckpointedPipeline``; then the raster
  side: seeded images through ``verify_images`` and ``tile_pyramid``.
* ``joins_dedup`` - the JVM-join and driver-probe workload: kNN, radius
  and PIP joins over clustered points, with planted sparse queries that
  make kNN expand its ring once; then pHash dedup groups over planted
  chains and MinHash groups over planted near-duplicate documents.  No
  CRS transform, no checkpoint pipeline.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd

EARTH_RADIUS_M = 6371008.8  # the sphere proj_spark's haversine uses
WEBMERC_A = 6378137.0

# FIXTURES.md section 3: (id, src lon, src lat, crs, expected x, y, tol m).
# K7 is published as float32, so it matches to float32 precision only;
# every sampled point is also held to 1e-6 m against closed-form
# spherical Mercator.
KATS = (
    (-7, -36.508, -54.2815, "EPSG:3857", -4064052.0, -7223650.5, 0.5),
    (-8, -116.590457069172, 32.55730630167689, "EPSG:6366",
     538447.8454476658, 3602285.563945497, 1e-6),
    (-9, -116.590411068973, 32.55714830169309, "EPSG:6366",
     538452.2313532799, 3602268.065714932, 1e-6),
)


# ---------------------------------------------------------------------------
# oracles (independent of proj_spark)
# ---------------------------------------------------------------------------
def haversine_m(lon1, lat1, lon2, lat2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dphi = (p2 - p1) / 2.0
    dlam = (np.radians(lon2) - np.radians(lon1)) / 2.0
    h = np.sin(dphi) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlam) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.minimum(1.0, np.sqrt(h)))


def even_odd(px, py, ring) -> np.ndarray:
    """Even-odd ray cast of points against one closed ring."""
    r = np.asarray(ring, dtype=np.float64)
    inside = np.zeros(len(px), dtype=bool)
    for (x1, y1), (x2, y2) in zip(r[:-1], r[1:]):
        cross = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= cross & (px < xint)
    return inside


def pip_pairs(ids, lon, lat, polys) -> set:
    out = set()
    for pid, ring in polys:
        r = np.asarray(ring)
        box = ((lon >= r[:, 0].min()) & (lon <= r[:, 0].max())
               & (lat >= r[:, 1].min()) & (lat <= r[:, 1].max()))
        hit = np.zeros(len(lon), dtype=bool)
        hit[box] = even_odd(lon[box], lat[box], ring)
        out.update((int(i), pid) for i in ids[hit])
    return out


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------
def _uniform_sphere_lat(rng, n, lo=-90.0, hi=90.0):
    s = rng.uniform(math.sin(math.radians(lo)), math.sin(math.radians(hi)), n)
    return np.degrees(np.arcsin(s))


def _polys_table(polys) -> pd.DataFrame:
    return pd.DataFrame({"poly_id": [p for p, _ in polys],
                         "rings": [[r] for _, r in polys]})


def _approx_equal(got, want, tol) -> bool:
    return len(got) == len(want) and bool(np.all(np.abs(got - want) <= tol))


def _ratio(a, b) -> float:
    return float(a) / float(b) if b else 0.0


def write_table(path: str, pdf: pd.DataFrame, files: int) -> None:
    """Write a generated table as ``files`` parquet files of consecutive
    rows (one Spark partition each)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(pdf), files + 1).astype(int)
    for i, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(pa.Table.from_pandas(pdf.iloc[a:b], preserve_index=False),
                       f"{path}/part-{i:05d}.parquet")


def _materialize(tr, op: str, df):
    """The operator's action: cache its output and count it."""
    with tr.span(op, "exec"):
        df = df.cache()
        n = df.count()
    tr.out_rows[op] = tr.out_rows.get(op, 0) + n
    return df, n


class Workload:
    name = ""
    # operator -> (minimum Python-evaluated UDFs, minimum Python nodes)
    # that its executed plan must contain; a pruned stage is a failure
    python_stages: dict[str, tuple[int, int]] = {}

    def __init__(self, seed: int, scale: float):
        self.rng = np.random.default_rng([seed, sum(map(ord, self.name))])
        self.tables: dict[str, pd.DataFrame] = {}  # generated inputs
        self.frames: dict = {}  # the same inputs, cached in Spark
        self.input_rows = 0

    def write_inputs(self, workdir: str, files: int) -> None:
        """Write every generated table as parquet (before any setup)."""
        self.workdir = workdir
        for name, pdf in self.tables.items():
            write_table(f"{workdir}/inputs/{name}", pdf,
                        files if len(pdf) >= 1000 * files else 1)

    def load(self, spark) -> None:
        """Read and cache every input (part of ``setup_s``)."""
        for name in self.tables:
            df = spark.read.parquet(f"{self.workdir}/inputs/{name}").cache()
            df.count()
            self.frames[name] = df

    def iteration(self, spark, tr) -> list[str]:
        raise NotImplementedError

    def useful_ratios(self, per_op: dict, tr) -> dict:
        pip = per_op.get("pip_join", {})
        return {"pip_join.useful_ratio": _ratio(pip.get("out_rows", 0),
                                                pip.get("py_rows", 0))}


# ---------------------------------------------------------------------------
# media stages: images (geo_pipeline) and dedup (joins_dedup)
# ---------------------------------------------------------------------------
def pyramid_tiles(w: int, h: int, zooms, tile: int) -> int:
    n = 0
    for z in zooms:
        f = 1 << z
        wz, hz = (w + f - 1) // f, (h + f - 1) // f
        n += -(-wz // tile) * -(-hz // tile)
    return n


def word_shingles(text: str, k: int = 3) -> set:
    t = text.split()
    return {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}


class ImageStages:
    """Seeded images through ``verify_images`` and ``tile_pyramid``
    (the codec and pHash Python stages)."""

    ZOOMS, TILE = (0, 1, 2), 32

    def init_images(self, rng, scale) -> None:
        from proj_spark.sources.datagen import caption_for, meta_for, raster_for
        from proj_spark.sources.images import (decode_image, encode_lossy,
                                               encode_png, phash64)
        from proj_spark.sources.jpeg import encode_jpeg

        # the deterministic rasters verify_images re-derives
        n_img = max(int(32 * scale), 8)
        seqs = np.sort(rng.choice(10 ** 9, n_img, replace=False)).astype(np.uint64)
        meta = meta_for(seqs)
        rows, self.rasters = [], {}
        for i, sq in enumerate(seqs):
            image_id = f"img{int(sq):012d}"
            rseed, fmt = int(meta["hash"][i]), str(meta["fmt"][i])
            w, h = int(meta["w"][i]), int(meta["h"][i])
            arr = raster_for(rseed, w, h)
            data = {"jpeg": encode_lossy, "png": encode_png,
                    "jpg": lambda a: encode_jpeg(a, quality=98)}[fmt](arr)
            rows.append((image_id, bytes(data), w, h, fmt,
                         caption_for(image_id, rseed),
                         phash64(decode_image(data, fmt))))
            if fmt == "png" and len(self.rasters) < 4:
                self.rasters[image_id] = arr  # lossless: tiles must match
        images = pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt",
                                             "caption", "phash"])
        self.want_tiles = sum(pyramid_tiles(w, h, self.ZOOMS, self.TILE)
                              for w, h in zip(images["w"], images["h"]))
        self.tables["images"] = images
        self.input_rows += n_img

    def image_stages(self, tr) -> list[str]:
        from pyspark.sql import functions as F

        from proj_spark.operators.raster import tile_pyramid
        from proj_spark.sources.images import verify_images

        images = self.frames["images"]
        failed = []
        with tr.span("verify_images", "build"):
            ver = verify_images(images)
        ver, n = _materialize(tr, "verify_images", ver)
        with tr.span("check", "check"):
            ok = F.col("size_ok") & F.col("phash_ok") & F.col("psnr_ok") \
                & F.col("caption_ok")
            if n != len(self.tables["images"]) or ver.where(~ok).count():
                failed.append("verify_images.flags")
        ver.unpersist()

        with tr.span("tile_pyramid", "build"):
            tiles = tile_pyramid(images, zooms=self.ZOOMS, tile=self.TILE)
        tiles, n = _materialize(tr, "tile_pyramid", tiles)
        with tr.span("check", "check"):
            if n != self.want_tiles or not self._tiles_match(tiles):
                failed.append("tile_pyramid.tiles")
        tiles.unpersist()
        return failed

    def _tiles_match(self, tiles) -> bool:
        """Level-0 tiles of the lossless sample images reassemble to the
        generated rasters exactly."""
        from pyspark.sql import functions as F

        from proj_spark.sources.images import decode_image

        got = (tiles.where((F.col("zoom") == 0)
                           & F.col("image_id").isin(list(self.rasters)))
               .select("image_id", "tile_x", "tile_y", "tile_bytes").toPandas())
        for image_id, want in self.rasters.items():
            canvas = np.zeros_like(want)
            for r in got[got["image_id"] == image_id].itertuples():
                blk = decode_image(bytes(r.tile_bytes), "png")
                y0, x0 = r.tile_y * self.TILE, r.tile_x * self.TILE
                canvas[y0:y0 + blk.shape[0], x0:x0 + blk.shape[1]] = blk
            if not np.array_equal(canvas, want):
                return False
        return True


class DedupStages:
    """``phash_dedup_groups`` over planted hash chains and
    ``minhash_lsh_groups`` over planted near-duplicate documents (banded
    candidates, connected components, MinHash)."""

    GROUP = 3        # pHash chain length: a root and two members
    FLIPS = 3        # bits each member differs from its root
    WORDS = 40       # words per document

    def init_dedup(self, rng, scale) -> None:
        # pHash chains: a random 64-bit root per group; each member flips
        # FLIPS distinct bits, so its only neighbour within FLIPS bits is
        # the root and the group's canonical id is key - key % GROUP
        n_hash = max(int(9_000 * scale) // self.GROUP, 100) * self.GROUP
        roots = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max,
                             n_hash // self.GROUP, dtype=np.int64, endpoint=True)
        hashes = np.repeat(roots, self.GROUP).view(np.uint64)
        bits = np.argsort(rng.random((n_hash, 64)), axis=1)[:, :self.FLIPS]
        flips = np.bitwise_or.reduce(np.left_shift(np.uint64(1),
                                                   bits.astype(np.uint64)), axis=1)
        keys = np.arange(n_hash, dtype=np.int64)
        hashes = np.where(keys % self.GROUP == 0, hashes, hashes ^ flips)
        perm = rng.permutation(n_hash)
        chains = pd.DataFrame({"key_id": keys[perm],
                               "phash": hashes.view(np.int64)[perm]})
        self.n_hash = n_hash
        # within-group pairs at most FLIPS bits apart (root~member always)
        h3 = hashes.reshape(-1, self.GROUP)
        pairs = 0
        for a in range(self.GROUP):
            for b in range(a + 1, self.GROUP):
                x = h3[:, a] ^ h3[:, b]
                pc = np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(1)
                pairs += int((pc <= self.FLIPS).sum())
        self.true_pairs = pairs

        # documents: exact-copy groups, salted near-copy groups and
        # singletons; words from a vocabulary large enough that unrelated
        # documents share no 3-word shingle
        n_groups = max(int(150 * scale), 6)
        vocab = np.array([f"w{i:05d}" for i in range(20_000)])
        texts, group = [], []
        for g in range(n_groups):
            words = list(rng.choice(vocab, self.WORDS))
            texts.append(" ".join(words))
            group.append(g)
            for _ in range(2):
                copy = list(words)
                if g % 2:  # near copies: salt two words
                    for j in rng.choice(self.WORDS, 2, replace=False):
                        copy[j] = f"s{int(rng.integers(10 ** 9))}"
                texts.append(" ".join(copy))
                group.append(g)
        for _ in range(2 * n_groups):
            texts.append(" ".join(rng.choice(vocab, self.WORDS)))
            group.append(-1 - len(group))
        doc_ids = rng.permutation(len(texts)).astype(np.int64)
        self.docs = pd.DataFrame({"doc_id": doc_ids, "text": texts,
                                  "group": group})
        self.tables["chains"] = chains
        self.tables["docs"] = self.docs[["doc_id", "text"]]
        self.input_rows += n_hash + len(texts)

    def dedup_stages(self, tr) -> list[str]:
        from pyspark.sql import functions as F

        from proj_spark.operators.imagedup import phash_dedup_groups
        from proj_spark.operators.textops import minhash_lsh_groups

        failed = []
        with tr.span("phash_dedup", "build"):
            groups = phash_dedup_groups(self.frames["chains"],
                                        max_hamming=self.FLIPS, id_col="key_id")
        groups, n = _materialize(tr, "phash_dedup", groups)
        with tr.span("check", "check"):
            want = F.col("key_id") - F.pmod(F.col("key_id"), F.lit(self.GROUP))
            if n != self.n_hash or groups.where(
                    F.col("canonical_id") != want).count():
                failed.append("phash_dedup.canonical")
        groups.unpersist()

        with tr.span("minhash_groups", "build"):
            canon = minhash_lsh_groups(self.frames["docs"])
        canon, _ = _materialize(tr, "minhash_groups", canon)
        with tr.span("check", "check"):
            got = canon.toPandas()
            bad = self._check_minhash(got)
            if bad:
                failed.append(bad)
            tr.verified["minhash_groups"] = int(
                (got["canonical_id"] != got["doc_id"]).sum())
        canon.unpersist()
        return failed

    def _check_minhash(self, got: pd.DataFrame) -> str:
        docs = self.docs.set_index("doc_id")
        if len(got) != len(docs) or set(got["doc_id"]) != set(docs.index):
            return "minhash_groups.rows"
        canon = got.set_index("doc_id")["canonical_id"]
        if (canon > canon.index).any():
            return "minhash_groups.order"
        # an exact copy's candidate is its group's minimum id, which
        # always verifies
        gmin = docs.groupby("group").apply(lambda g: g.index.min())
        for g in range(0, docs["group"].max() + 1, 2):
            members = docs.index[docs["group"] == g]
            if (canon[members] != gmin[g]).any():
                return "minhash_groups.exact"
        # every other assignment joins near copies of one document
        for doc_id, c in canon[canon != canon.index].items():
            a, b = docs.loc[doc_id], docs.loc[c]
            sa, sb = word_shingles(a["text"]), word_shingles(b["text"])
            if a["group"] != b["group"] or len(sa & sb) < 0.5 * len(sa | sb):
                return "minhash_groups.verified"
        return ""

    def dedup_ratios(self, tr) -> dict:
        nodes = tr.nodes
        # rows the pHash band self-join emitted (a pair found in several
        # bands is emitted once per band) against the planted true pairs
        band_rows = sum(r for name, desc, r, _ in nodes.get("phash_dedup", [])
                        if "Join" in name and "band" in desc)
        # docs sent to the exact-Jaccard verification against the docs
        # whose candidate canonical verified
        cand = sum(r for name, desc, r, _ in nodes.get("minhash_groups", [])
                   if name == "Filter" and "cand_canon" in desc and "<" in desc)
        return {"phash_dedup.useful_ratio": _ratio(self.true_pairs, band_rows),
                "minhash_groups.useful_ratio": _ratio(
                    tr.verified.get("minhash_groups", 0), cand)}


# ---------------------------------------------------------------------------
# geo_pipeline
# ---------------------------------------------------------------------------
def nation_rects() -> list[tuple[str, list]]:
    """The 25 nation rectangles of the repo's flagship query."""
    out = []
    for nk in range(25):
        x0, y0 = -180.0 + nk * 14.3, -70.0 + nk * 5.3
        out.append((f"rect{nk}", [[x0, y0], [x0 + 12.0, y0],
                                  [x0 + 12.0, y0 + 6.0], [x0, y0 + 6.0],
                                  [x0, y0]]))
    return out


class GeoPipeline(ImageStages, Workload):
    """Uniform world points -> EPSG:3857 and EPSG:6366 -> cell + tile
    -> PIP against the nation rectangles -> per-tile rollup, each stage
    checkpointed to parquet by ``CheckpointedPipeline``; then the image
    stages (:class:`ImageStages`)."""

    name = "geo_pipeline"
    python_stages = {"transform": (2, 1), "pip_join": (1, 1),
                     "verify_images": (0, 1), "tile_pyramid": (0, 1)}
    SAMPLE_MOD = 509

    def __init__(self, seed, scale):
        super().__init__(seed, scale)
        rng = self.rng
        n = max(int(60_000 * scale), 1000)
        ids = np.arange(n, dtype=np.int64)
        lon = rng.uniform(-180.0, 180.0, n)
        lat = rng.uniform(-85.0, 85.0, n)
        kat = np.array([k[0] for k in KATS], dtype=np.int64)
        points = pd.DataFrame({
            "point_id": np.concatenate([ids, kat]),
            "lon": np.concatenate([lon, [k[1] for k in KATS]]),
            "lat": np.concatenate([lat, [k[2] for k in KATS]]),
        })
        self.n_points = len(points)
        self.residue = int(rng.integers(0, self.SAMPLE_MOD))
        sm = np.mod(ids, self.SAMPLE_MOD) == self.residue
        self.sample_ids = ids[sm]
        self.want_x = WEBMERC_A * np.radians(lon[sm])
        self.want_y = WEBMERC_A * np.log(np.tan(np.pi / 4.0
                                                + np.radians(lat[sm]) / 2.0))
        rects = nation_rects()
        keep = np.concatenate([sm, np.ones(len(kat), dtype=bool)])
        self.want_hits = pip_pairs(points["point_id"].to_numpy()[keep],
                                   points["lon"].to_numpy()[keep],
                                   points["lat"].to_numpy()[keep], rects)
        self.tables = {"points": points, "rects": _polys_table(rects)}
        self.input_rows = self.n_points
        self.init_images(rng, scale)

    def iteration(self, spark, tr):
        from pyspark.sql import functions as F

        from proj_spark.functions.transform import with_transformed
        from proj_spark.operators.cells import cell_col
        from proj_spark.operators.joins import pip_join
        from proj_spark.operators.tiles import with_tiles
        from proj_spark.plans.pipeline import CheckpointedPipeline

        pending = []

        def staged(op, fn):
            # the stage's checkpoint write runs inside run() after fn
            # returns: that stretch is the operator's exec span
            def stage_fn(sp, prev):
                while pending:
                    tr.close(pending.pop())
                if op is None:
                    return fn(sp, prev)
                with tr.span(op, "build"):
                    df = fn(sp, prev)
                pending.append(tr.open(op, "exec"))
                return df
            return stage_fn

        def project(sp, _prev):
            df = with_transformed(self.frames["points"], "EPSG:4326", "EPSG:3857",
                                  err_col=None)
            df = with_transformed(df, "EPSG:4326", "EPSG:6366",
                                  out_x="ux", out_y="uy", err_col=None)
            df = df.withColumn("cell", cell_col(F.col("lon"), F.col("lat"), 8))
            return with_tiles(df, zoom=6)

        def pip(sp, prev):
            return pip_join(prev, self.frames["rects"], level=5)

        def rollup(sp, prev):
            return prev.groupBy("poly_id", "zoom", "tile_x", "tile_y").agg(
                F.count(F.lit(1)).alias("n"), F.avg("x").alias("ax"),
                F.avg("y").alias("ay"), F.avg("ux").alias("aux"),
                F.avg("uy").alias("auy"))

        with tr.span("pipeline_write", "build"):
            pipe = (CheckpointedPipeline(spark, f"{self.workdir}/pipeline", "geo")
                    .stage("project", staged("transform", project))
                    .stage("pip", staged("pip_join", pip))
                    .stage("rollup", staged(None, rollup)))
        with tr.span("pipeline_write", "exec"):
            results = pipe.run(resume=False)
            while pending:
                tr.close(pending.pop())
        rows = {r.name: r.rows for r in results}
        for op, n in (("transform", rows["project"]), ("pip_join", rows["pip"]),
                      ("pipeline_write", sum(rows.values()))):
            tr.out_rows[op] = tr.out_rows.get(op, 0) + n
        with tr.span("check", "check"):
            failed = self._check(spark, {r.name: r.path for r in results}, rows)
        return failed + self.image_stages(tr)

    def _check(self, spark, paths, rows) -> list[str]:
        from pyspark.sql import functions as F

        failed = []
        keep = (F.pmod(F.col("point_id"), F.lit(self.SAMPLE_MOD))
                == self.residue) | (F.col("point_id") < 0)
        if rows["project"] != self.n_points:
            failed.append("transform.rows")
        got = (spark.read.parquet(paths["project"]).where(keep)
               .select("point_id", "x", "y", "ux", "uy").toPandas()
               .set_index("point_id"))
        for kid, _, _, crs, wx, wy, tol in KATS:
            cx, cy = ("x", "y") if crs == "EPSG:3857" else ("ux", "uy")
            if kid not in got.index or not (
                    abs(got.at[kid, cx] - wx) <= tol
                    and abs(got.at[kid, cy] - wy) <= tol):
                failed.append(f"transform.kat{-kid}")
        s = got.reindex(self.sample_ids)
        if not (_approx_equal(s["x"].to_numpy(), self.want_x, 1e-6)
                and _approx_equal(s["y"].to_numpy(), self.want_y, 1e-6)):
            failed.append("transform.webmerc_sample")
        if not np.isfinite(s[["ux", "uy"]].to_numpy()).all():
            failed.append("transform.utm_sample")
        hits = (spark.read.parquet(paths["pip"]).where(keep)
                .select("point_id", "poly_id").toPandas())
        if set(zip(hits["point_id"].tolist(), hits["poly_id"].tolist())) \
                != self.want_hits:
            failed.append("pip_join.sample")
        n_roll = spark.read.parquet(paths["rollup"]).agg(F.sum("n")).first()[0]
        if n_roll != rows["pip"]:
            failed.append("rollup.total")
        return failed

# ---------------------------------------------------------------------------
# joins_dedup
# ---------------------------------------------------------------------------
def star_polygon(rng, cx, cy, radius, n_vertices):
    ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, n_vertices))
    rad = radius * rng.uniform(0.45, 1.0, n_vertices)
    ring = np.stack([cx + rad * np.cos(ang), cy + 0.6 * rad * np.sin(ang)], 1)
    return np.vstack([ring, ring[:1]]).tolist()


def destination(lon, lat, bearing, dist_m):
    """Point ``dist_m`` from (lon, lat) along ``bearing`` (radians)."""
    p1, l1, d = np.radians(lat), np.radians(lon), dist_m / EARTH_RADIUS_M
    p2 = np.arcsin(np.sin(p1) * np.cos(d)
                   + np.cos(p1) * np.sin(d) * np.cos(bearing))
    l2 = l1 + np.arctan2(np.sin(bearing) * np.sin(d) * np.cos(p1),
                         np.cos(d) - np.sin(p1) * np.sin(p2))
    return (np.degrees(l2) + 180.0) % 360.0 - 180.0, np.degrees(p2)


def knn_level(n_points: int, k: int) -> int:
    """The cell level ``knn_join`` picks for ``n_points`` at ring 1:
    used only to size the planted sparse neighbourhoods."""
    raw = math.log(max(n_points * 9 / max(4 * k, 64), 1.0), 4.0)
    return int(min(max(math.floor(raw), 1), 26))


def ring_guards(lon, lat, level):
    """For a query at the centre of its cell: an upper bound of the
    distance that proves a kNN answer inside the ring-1 cell block, and
    a lower bound of the distance that proves one inside the ring-4
    block (m).  ``None`` if the ring-4 block reaches a pole or wraps."""
    ch, cw = 180.0 / (1 << level), 360.0 / (1 << level)
    if abs(lat) + 4.5 * ch >= 89.0 or 9 * cw >= 360.0:
        return None
    g1_max = math.radians(1.5 * ch) * EARTH_RADIUS_M
    max_lat = math.radians(abs(lat) + 4.5 * ch)
    g4_min = min(math.radians(4.5 * ch) * EARTH_RADIUS_M,
                 2.0 * EARTH_RADIUS_M * math.asin(
                     math.cos(max_lat) * math.sin(math.radians(4.5 * cw) / 2.0)))
    return g1_max, g4_min


class JoinsDedup(DedupStages, Workload):
    """Clustered points with a planted hot-spot share; kNN, radius and
    PIP joins against seeded queries and many-vertex star polygons; then
    the dedup stages (:class:`DedupStages`).

    Most queries sit in hot spots, where the first kNN ring proves them.
    A fixed number of sparse queries sit in planted voids: no point lies
    within the distance the ring-1 cell block can prove, and ``K + 1``
    planted points lie within the distance the ring-4 block proves.  So
    on every seed ``knn_join`` runs exactly one ring-expansion round and
    no brute-force pass, and the expansion's cost is measured."""

    name = "joins_dedup"
    python_stages = {"pip_join": (1, 1)}
    K = 5
    RADIUS_M = 60_000.0
    SAMPLE_MOD = 331
    SPARSE = 8

    def __init__(self, seed, scale):
        super().__init__(seed, scale)
        rng = self.rng
        n = max(int(20_000 * scale), 2000)
        n_hot = int(0.6 * n)
        centers = np.stack([rng.uniform(-170, 170, 40),
                            rng.uniform(-55, 55, 40)], 1)
        c = rng.integers(0, len(centers), n_hot)
        lon = np.concatenate([centers[c, 0] + rng.normal(0.0, 1.5, n_hot),
                              rng.uniform(-180.0, 180.0, n - n_hot)])
        lat = np.concatenate([centers[c, 1] + rng.normal(0.0, 1.0, n_hot),
                              _uniform_sphere_lat(rng, n - n_hot)])
        lon = ((lon + 180.0) % 360.0) - 180.0
        lat = np.clip(lat, -89.9, 89.9)
        hot_q = (centers[rng.integers(0, len(centers), 80)]
                 + rng.normal(0.0, 0.5, (80, 2)))

        # sparse queries: cell-centred, in voids carved out of the points
        level = knn_level(n, self.K)
        ch, cw = 180.0 / (1 << level), 360.0 / (1 << level)
        sparse, voids = [], []
        for _ in range(2000):
            if len(sparse) == self.SPARSE:
                break
            qlon = (math.floor(rng.uniform(0, 1 << level)) + 0.5) * cw - 180.0
            qlat = (math.floor(rng.uniform(0, 1 << level)) + 0.5) * ch - 90.0
            g = ring_guards(qlon, qlat, level)
            if g is None or g[1] < 1.6 * g[0]:
                continue
            hole = 1.15 * g[0]
            far = 0.9 * g[1]
            if (haversine_m(centers[:, 0], centers[:, 1], qlon, qlat).min()
                    < hole + 400_000.0):
                continue  # keep hot-spot queries' neighbourhoods intact
            if any(haversine_m(v[0], v[1], qlon, qlat) < far + v[3] + 100_000.0
                   for v in voids):
                continue
            sparse.append((qlon, qlat))
            voids.append((qlon, qlat, hole, far))
        self.n_sparse = len(sparse)
        keep = np.ones(n, dtype=bool)
        for qlon, qlat, hole, _ in voids:
            keep &= haversine_m(lon, lat, qlon, qlat) > hole
        lon, lat = lon[keep], lat[keep]
        for qlon, qlat, hole, far in voids:
            d = rng.uniform(1.1 * hole, far, self.K + 1)
            plon, plat = destination(qlon, qlat,
                                     rng.uniform(0, 2 * np.pi, self.K + 1), d)
            lon, lat = np.concatenate([lon, plon]), np.concatenate([lat, plat])
        while len(lon) < n:  # top up to n points, outside every void
            tlon = rng.uniform(-180.0, 180.0, n - len(lon))
            tlat = _uniform_sphere_lat(rng, n - len(lon))
            ok = np.ones(len(tlon), dtype=bool)
            for qlon, qlat, _, far in voids:
                ok &= haversine_m(tlon, tlat, qlon, qlat) > far
            lon, lat = np.concatenate([lon, tlon[ok]]), np.concatenate([lat, tlat[ok]])
        perm = rng.permutation(n)
        lon, lat = lon[perm], lat[perm]
        ids = np.arange(n, dtype=np.int64)
        self.n_points = n
        q = np.vstack([hot_q, np.array(sparse).reshape(-1, 2)])
        queries = pd.DataFrame({"query_id": np.arange(len(q), dtype=np.int64),
                                "lon": q[:, 0], "lat": q[:, 1]})
        # sizes and vertex counts are spread evenly, not drawn, so the
        # PIP work varies little from seed to seed
        sizes = rng.permutation(np.linspace(1.0, 3.5, 30))
        verts = rng.permutation(np.linspace(64, 255, 30).astype(int))
        polys = []
        for i in range(30):
            cx, cy = (centers[i] if i < 20 else
                      (rng.uniform(-170, 170), rng.uniform(-55, 55)))
            polys.append((f"star{i}", star_polygon(
                rng, cx, cy, sizes[i], int(verts[i]))))
        self.tables = {
            "points": pd.DataFrame({"point_id": ids, "lon": lon, "lat": lat}),
            "queries": queries, "stars": _polys_table(polys)}
        self.input_rows = self.n_points + len(queries)

        # expected answers for a seeded sample of the hot-spot queries,
        # every sparse query, and a seeded sample of points
        self.check_q = np.concatenate([
            np.sort(rng.choice(len(hot_q), 16, replace=False)),
            np.arange(len(hot_q), len(q))])
        self.want_knn, self.want_radius = {}, {}
        for qid in self.check_q:
            d = haversine_m(lon, lat, q[qid, 0], q[qid, 1])
            top = np.lexsort((ids, d))[:self.K]
            self.want_knn[int(qid)] = (ids[top], d[top])
            self.want_radius[int(qid)] = set(ids[d <= self.RADIUS_M].tolist())
        self.residue = int(rng.integers(0, self.SAMPLE_MOD))
        sm = np.mod(ids, self.SAMPLE_MOD) == self.residue
        self.want_pip = pip_pairs(ids[sm], lon[sm], lat[sm], polys)
        self.init_dedup(rng, scale)

    def iteration(self, spark, tr):
        from pyspark.sql import functions as F

        from proj_spark.operators.joins import knn_join, pip_join, radius_join

        pts, qs = self.frames["points"], self.frames["queries"]
        check_q = [int(x) for x in self.check_q]
        failed = []
        with tr.span("knn_join", "build"):
            knn = knn_join(pts, qs, k=self.K, n_points=self.n_points)
        knn, _ = _materialize(tr, "knn_join", knn)
        with tr.span("check", "check"):
            got = (knn.where(F.col("query_id").isin(check_q))
                   .select("query_id", "point_id", "dist_m", "rank").toPandas()
                   .sort_values(["query_id", "rank"]))
            for qid, (want_ids, want_d) in self.want_knn.items():
                g = got[got["query_id"] == qid]
                if not (g["point_id"].tolist() == want_ids.tolist()
                        and _approx_equal(g["dist_m"].to_numpy(), want_d, 1e-3)):
                    failed.append("knn_join.sample")
                    break
        knn.unpersist()

        with tr.span("radius_join", "build"):
            rad = radius_join(pts, qs, self.RADIUS_M)
        rad, _ = _materialize(tr, "radius_join", rad)
        with tr.span("check", "check"):
            got = (rad.where(F.col("query_id").isin(check_q))
                   .select("query_id", "point_id").toPandas())
            for qid, want in self.want_radius.items():
                if set(got.loc[got["query_id"] == qid, "point_id"]) != want:
                    failed.append("radius_join.sample")
                    break
        rad.unpersist()

        with tr.span("pip_join", "build"):
            hits = pip_join(pts, self.frames["stars"])
        hits, _ = _materialize(tr, "pip_join", hits)
        with tr.span("check", "check"):
            got = (hits.where(F.pmod(F.col("point_id"),
                                     F.lit(self.SAMPLE_MOD)) == self.residue)
                   .select("point_id", "poly_id").toPandas())
            if set(zip(got["point_id"].tolist(),
                       got["poly_id"].tolist())) != self.want_pip:
                failed.append("pip_join.sample")
        hits.unpersist()
        return failed + self.dedup_stages(tr)

    def useful_ratios(self, per_op: dict, tr) -> dict:
        return {**super().useful_ratios(per_op, tr), **self.dedup_ratios(tr)}


WORKLOADS = {w.name: w for w in (GeoPipeline, JoinsDedup)}
