"""Seeded GeoJSON route corpus generator (British National Grid, EPSG:27700).

Writes two batches of cycle-route GeoJSON in the three envelope shapes the
source reader accepts: FeatureCollection files, bare ``[Feature, ...]`` list
files and single-Feature files. Vertex counts per route are heavy-tailed
(lognormal body, capped Pareto-like tail) around a fixed total. The second
batch re-delivers half of the first batch's routes next to new ones, so
loading it exercises the idempotent anti-join append.

The same seed gives byte-identical files. Everything the benchmark later
checks (row counts, planar lengths, authority counts, new keys) comes from
the returned :class:`Corpus`, never from the program under test.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field

import numpy as np

# Scottish council areas (the reference dataset's local authorities) with
# their ONS codes; the route share per authority is Zipf-like.
AUTHORITIES = [
    ("City of Edinburgh", "S12000036"), ("Glasgow City", "S12000049"),
    ("Fife", "S12000047"), ("North Lanarkshire", "S12000050"),
    ("South Lanarkshire", "S12000029"), ("Aberdeenshire", "S12000034"),
    ("Highland", "S12000017"), ("Aberdeen City", "S12000033"),
    ("West Lothian", "S12000040"), ("Renfrewshire", "S12000038"),
    ("Falkirk", "S12000014"), ("Perth and Kinross", "S12000048"),
    ("Dumfries and Galloway", "S12000006"), ("Dundee City", "S12000042"),
    ("North Ayrshire", "S12000021"), ("East Ayrshire", "S12000008"),
    ("Angus", "S12000041"), ("Scottish Borders", "S12000026"),
    ("South Ayrshire", "S12000028"), ("East Lothian", "S12000010"),
    ("East Dunbartonshire", "S12000045"), ("Stirling", "S12000030"),
    ("Midlothian", "S12000019"), ("Moray", "S12000020"),
    ("West Dunbartonshire", "S12000039"), ("Argyll and Bute", "S12000035"),
    ("East Renfrewshire", "S12000011"), ("Inverclyde", "S12000018"),
    ("Clackmannanshire", "S12000005"), ("Na h-Eileanan Siar", "S12000013"),
    ("Shetland Islands", "S12000027"), ("Orkney Islands", "S12000023"),
]
ROUTE_TYPES = ["Cycle Lane", "Cycle Path", "Mixed Use Path", "Shared Use Path", "Quiet Road"]
SURFACES = ["Tarmac", "Gravel", "Compacted", "Paved", "Unsealed"]
TRAFFIC = ["None", "Light", "Moderate", "Heavy"]
STREETS = ["Canal Path", "Station Road", "Main Street", "Shore Road", "Mill Lane",
           "Railway Walk", "Park Avenue", "Church Street", "Harbour Way", "Loch Side"]
LOCALITIES = ["Leith", "Partick", "Kirkcaldy", "Motherwell", "Hamilton", "Inverurie",
              "Inverness", "Bridge of Don", "Livingston", "Paisley", "Grangemouth"]
NCN = ["1", "7", "75", "76", "754", None]

# mainland Scotland window in BNG metres; every random-walk vertex stays in it
E_MIN, E_MAX = 200_000.0, 420_000.0
N_MIN, N_MAX = 560_000.0, 960_000.0


@dataclass
class Corpus:
    """What the generator knows about the files it wrote."""

    batch1_glob: str
    batch2_glob: str
    batch1_bytes: int
    n_files: int
    # route_id -> planar length (m) in the source CRS, batch 1
    lengths: dict[str, float] = field(default_factory=dict)
    # route_id -> local authority (None for the few routes without one),
    # batch 1 and the new routes of batch 2
    authority: dict[str, str | None] = field(default_factory=dict)
    vertices: int = 0
    batch2_new_ids: list[str] = field(default_factory=list)

    def authority_ids(self) -> dict[str | None, list[str]]:
        out: dict[str | None, list[str]] = {}
        for rid, la in self.authority.items():
            out.setdefault(la, []).append(rid)
        for ids in out.values():
            ids.sort()
        return out


def _vertex_counts(rng: np.random.Generator, n: int, mean: int = 42,
                   cap: int = 2_000) -> np.ndarray:
    """Heavy-tailed: lognormal body plus a 2% Pareto tail, capped at ``cap``
    vertices, then rescaled to exactly ``mean * n`` vertices in total, so
    corpora of one size differ in shape, not in volume."""
    body = rng.lognormal(mean=math.log(22.0), sigma=0.9, size=n)
    tail = (rng.pareto(1.3, size=n) + 1.0) * 150.0
    raw = np.clip(np.where(rng.random(n) < 0.02, tail, body) + 2, 2, cap)
    exact = raw * (mean * n / raw.sum())
    counts = np.clip(np.floor(exact), 2, cap).astype(np.int64)
    short = mean * n - int(counts.sum())
    if short > 0:  # give the remainder to the routes rounded down most
        counts[np.argsort(np.where(counts < cap, counts - exact, np.inf))[:short]] += 1
    elif short < 0:
        counts[np.argsort(-counts)[:-short]] -= 1
    return counts


def _routes(rng: np.random.Generator, ids: list[str], la_idx: np.ndarray,
            n_vertices: np.ndarray, src_ids: np.ndarray) -> tuple[list[str], np.ndarray]:
    """Serialised Features for ``ids`` plus their planar lengths.

    Geometry is drawn for all routes at once: a Gaussian random walk per
    route, clipped to the window and rounded to centimetres. The written
    decimals parse back to exactly these doubles, so the lengths returned
    are the lengths of the geometry the program reads.
    """
    n = len(ids)
    # each authority owns a horizontal band of the window, so the
    # "authority" filter is spatially coherent like the real data
    band = (N_MAX - N_MIN) / len(AUTHORITIES)
    band_idx = np.where(la_idx >= 0, la_idx, rng.integers(len(AUTHORITIES), size=n))
    starts = np.concatenate([[0], np.cumsum(n_vertices)[:-1]])
    steps = rng.normal(0.0, 60.0, size=(int(n_vertices.sum()), 2))
    steps[starts, 0] = rng.uniform(E_MIN + 5_000, E_MAX - 5_000, size=n)
    steps[starts, 1] = N_MIN + band * (band_idx + rng.random(n))
    walk = steps.cumsum(axis=0)
    walk -= np.repeat(walk[starts] - steps[starts], n_vertices, axis=0)
    walk[:, 0] = np.clip(walk[:, 0], E_MIN, E_MAX)
    walk[:, 1] = np.clip(walk[:, 1], N_MIN, N_MAX)
    pts = np.round(walk, 2)
    seg = np.sqrt((np.diff(pts, axis=0) ** 2).sum(axis=1))
    seg = np.append(seg, 0.0)
    seg[starts[1:] - 1] = 0.0  # no segment joins two routes
    seg[-1] = 0.0
    lengths = np.add.reduceat(seg, starts)

    picks = {name: rng.integers(len(vals), size=n) for name, vals in
             (("street", STREETS), ("locality", LOCALITIES), ("type", ROUTE_TYPES),
              ("surface", SURFACES), ("ncn", NCN), ("traffic", TRAFFIC))}
    has_note = rng.random(n) >= 0.7
    flat = pts.ravel().tolist()
    feats: list[str] = []
    for i in range(n):
        k = int(n_vertices[i])
        lo = 2 * int(starts[i])
        coords = ("[%.2f,%.2f]," * k)[:-1] % tuple(flat[lo:lo + 2 * k])
        la = AUTHORITIES[la_idx[i]] if la_idx[i] >= 0 else (None, None)
        src = int(src_ids[i])
        props = json.dumps({
            "route_id": ids[i],
            "street": STREETS[picks["street"][i]],
            "locality": LOCALITIES[picks["locality"][i]],
            "type": ROUTE_TYPES[picks["type"][i]],
            "notes": f"segment {src % 97}" if has_note[i] else None,
            "surface": SURFACES[picks["surface"][i]],
            "ncn_route": NCN[picks["ncn"][i]],
            "traffic": TRAFFIC[picks["traffic"][i]],
            "local_authority": la[0],
            "la_s_code": la[1],
            "sh_date_uploaded": f"2024-{1 + src % 12:02d}-{1 + src % 28:02d}",
            "sh_src": "spatialhub",
            "sh_src_id": src,
        }, separators=(",", ":"))
        feats.append('{"type":"Feature","properties":%s,"geometry":'
                     '{"type":"LineString","coordinates":[%s]}}' % (props, coords))
    return feats, lengths


def _write_batch(out_dir: str, prefix: str, features: list[str], n_fc: int,
                 n_list: int, n_single: int) -> tuple[int, int]:
    """Split ``features`` over the three envelope shapes; return (bytes, files)."""
    os.makedirs(out_dir, exist_ok=True)
    singles, rest = features[:n_single], features[n_single:]
    n_in_lists = len(rest) // 8 if n_list else 0
    lists, fcs = rest[:n_in_lists], rest[n_in_lists:]
    written = 0
    files = 0

    def dump(name: str, text: str) -> None:
        nonlocal written, files
        data = text.encode()
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(data)
        written += len(data)
        files += 1

    for i in range(n_fc):
        dump(f"{prefix}_fc_{i:02d}.geojson",
             '{"type":"FeatureCollection","features":[%s]}' % ",".join(fcs[i::n_fc]))
    for i in range(n_list):
        dump(f"{prefix}_list_{i:02d}.geojson", "[%s]" % ",".join(lists[i::n_list]))
    for i, f in enumerate(singles):
        dump(f"{prefix}_single_{i:02d}.geojson", f)
    return written, files


def generate(out_dir: str, seed: int, n_routes: int) -> Corpus:
    """Write batch 1 (``n_routes``) and batch 2 under ``out_dir``.

    Batch 2 re-delivers half of batch 1 (the rows the append must skip)
    plus a quarter as many new routes.
    """
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, len(AUTHORITIES) + 1) ** 0.9
    weights /= weights.sum()
    counts = _vertex_counts(rng, n_routes)
    las = rng.choice(len(AUTHORITIES), size=n_routes, p=weights)
    las[rng.random(n_routes) < 0.01] = -1  # routes without an authority

    corpus = Corpus(os.path.join(out_dir, "batch1", "*.geojson"),
                    os.path.join(out_dir, "batch2", "*.geojson"), 0, 0)
    ids1 = [f"R{i:07d}" for i in range(n_routes)]
    feats1, lengths = _routes(rng, ids1, las, counts, np.arange(n_routes))
    corpus.lengths = dict(zip(ids1, lengths.tolist()))
    corpus.authority = {rid: AUTHORITIES[la][0] if la >= 0 else None
                        for rid, la in zip(ids1, las.tolist())}
    corpus.vertices = int(counts.sum())
    corpus.batch1_bytes, corpus.n_files = _write_batch(
        os.path.join(out_dir, "batch1"), "b1", feats1, n_fc=8, n_list=4, n_single=16)

    reused = sorted(rng.choice(n_routes, size=n_routes // 2, replace=False).tolist())
    n_new = n_routes // 4
    corpus.batch2_new_ids = [f"R{n_routes + j:07d}" for j in range(n_new)]
    las_new = rng.choice(len(AUTHORITIES), size=n_new, p=weights)
    feats_new, _ = _routes(rng, corpus.batch2_new_ids, las_new,
                           _vertex_counts(rng, n_new),
                           np.arange(n_routes, n_routes + n_new))
    corpus.authority.update(
        (rid, AUTHORITIES[la][0]) for rid, la in zip(corpus.batch2_new_ids, las_new.tolist()))
    feats2 = [feats1[i] for i in reused] + feats_new
    feats2 = [feats2[k] for k in rng.permutation(len(feats2)).tolist()]
    _, files2 = _write_batch(os.path.join(out_dir, "batch2"), "b2", feats2,
                             n_fc=2, n_list=1, n_single=4)
    corpus.n_files += files2
    return corpus
