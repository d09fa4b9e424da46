"""Deterministic synthetic generators for the engine's fixtures (FIXTURES.md).

F1 ``docs``      — interleaved text+media+geom documents, the exact input
                   shape from BASELINE.json ``input_hint``:
                   (doc_id:string, spans:array<struct<kind,text,media_ref,offset:int>>)
F3 ``regions``   — bbox / polygon spatial-join right side
F4 ``tile_requests`` — raster↔vector join left side
F5 ``diffs``     — incremental change sets

All generation is numpy with a fixed seed — byte-stable across runs, which the
golden-fixture tests (tests/test_tiling_golden.py) rely on. Coordinates are
fixed-point int degrees ×10⁷; ~30% of spans carry geometry; coordinates are
drawn from 3 hot clusters + a uniform background to exercise skew salting
(FIXTURES.md F1 sizing contract).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .quadtree import COORD_SCALE

# Bump on ANY change to doc content or schema: bench.py keys its staged-input
# cache on this, so a generator change invalidates stale tmpfs copies instead
# of silently reusing them across bench runs.
DATAGEN_VERSION = 1

SPAN_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)

_TAG_VOCAB = [
    # drawn from the style vocabulary, /root/reference/extrastyle.json:1-75
    ("highway", ["motorway", "primary", "secondary", "residential", "footway", "motorway_link"]),
    ("railway", ["rail", "subway", "tram"]),
    ("landuse", ["forest", "residential", "industrial", "meadow"]),
    ("natural", ["water", "wood", "scrub"]),
    ("waterway", ["river", "stream", "canal"]),
    ("building", ["yes", "house", "no"]),
    ("amenity", ["school", "cafe", "parking"]),
    ("boundary", ["administrative"]),
    ("admin_level", ["2", "4", "6", "8"]),
    ("layer", ["-1", "0", "1", "2"]),
    ("bridge", ["yes", "no"]),
    ("tunnel", ["yes", "no"]),
]

_WORDS = (
    "the spark quad tree tile span doc merge join scan filter group "
    "sort shuffle batch stream vector raster point line polygon"
).split()

# hot clusters (lon, lat, spread_deg) — city-like skew — plus uniform background
_CLUSTERS = [(-0.1278, 51.5074, 0.15), (13.4050, 52.5200, 0.12), (2.3522, 48.8566, 0.10)]


def _wkt_and_tags(rng: np.random.Generator) -> str:
    """One geom-span payload: 'WKT|k=v;k=v' (deterministic given rng state)."""
    r = rng.random()
    if r < 0.55:
        lon, lat = _coord(rng)
        wkt = f"POINT({lon} {lat})"
    elif r < 0.85:
        lon, lat = _coord(rng)
        n = int(rng.integers(2, 6))
        pts = []
        for _ in range(n):
            lon += int(rng.integers(-50000, 50000))
            lat += int(rng.integers(-50000, 50000))
            pts.append(f"{lon} {lat}")
        wkt = f"LINESTRING({', '.join(pts)})"
    else:
        lon, lat = _coord(rng)
        w = int(rng.integers(5000, 80000))
        h = int(rng.integers(5000, 80000))
        wkt = (
            f"POLYGON(({lon} {lat}, {lon + w} {lat}, {lon + w} {lat + h}, "
            f"{lon} {lat + h}, {lon} {lat}))"
        )
    ntags = int(rng.integers(1, 4))
    idx = rng.choice(len(_TAG_VOCAB), size=ntags, replace=False)
    tags = ";".join(
        f"{_TAG_VOCAB[i][0]}={_TAG_VOCAB[i][1][int(rng.integers(0, len(_TAG_VOCAB[i][1])))]}"
        for i in sorted(idx)
    )
    return f"{wkt}|{tags}"


def _coord(rng: np.random.Generator) -> tuple[int, int]:
    """Fixed-point coordinate: 70% from a hot cluster, 30% uniform world."""
    if rng.random() < 0.7:
        cx, cy, s = _CLUSTERS[int(rng.integers(0, len(_CLUSTERS)))]
        lon = cx + rng.normal(0, s)
        lat = cy + rng.normal(0, s)
    else:
        lon = rng.uniform(-179, 179)
        lat = rng.uniform(-80, 80)
    return int(round(lon * COORD_SCALE)), int(round(lat * COORD_SCALE))


def _doc_spans(rng: np.random.Generator) -> list[dict]:
    """One doc's spans: 3-20 of geom (30%), media (15%) or text, each with
    its character offset in the doc."""
    spans = []
    offset = 0
    for _ in range(int(rng.integers(3, 21))):
        r = rng.random()
        if r < 0.30:
            kind, text, media = "geom", _wkt_and_tags(rng), ""
        elif r < 0.45:
            kind, text = "media", ""
            media = f"media://{int(rng.integers(0, 1 << 48)):012x}"
        else:
            kind = "text"
            nw = int(rng.integers(3, 12))
            text = " ".join(_WORDS[int(k)] for k in rng.integers(0, len(_WORDS), nw))
            media = ""
        spans.append({"kind": kind, "text": text, "media_ref": media, "offset": offset})
        offset += max(len(text), 1)
    return spans


def gen_docs_pdf(n_docs: int = 1000, seed: int = 42) -> pd.DataFrame:
    """F1: interleaved docs as a pandas frame (driver-side, small scale).

    At production scale this table is an Iceberg table generated upstream;
    the generator exists only to fabricate deterministic test input.
    """
    rng = np.random.default_rng(seed)
    rows = [{"doc_id": f"doc_{i:08d}", "spans": _doc_spans(rng)} for i in range(n_docs)]
    return pd.DataFrame(rows)


def gen_docs(spark, n_docs: int = 1000, seed: int = 42):
    pdf = gen_docs_pdf(n_docs, seed)
    data = [(r.doc_id, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r.spans])
            for r in pdf.itertuples()]
    return spark.createDataFrame(data, SPAN_SCHEMA)


def _doc_rows(doc_ids, seed: int):
    """Rows for a batch of doc indices — rng seeded PER DOC, so output is
    deterministic regardless of partitioning (the property that lets the
    same generator run at 10^12-doc scale on any cluster layout)."""
    out_ids, out_spans = [], []
    for i in doc_ids:
        out_ids.append(f"doc_{int(i):08d}")
        out_spans.append(_doc_spans(np.random.default_rng((int(seed) << 34) ^ int(i))))
    return pd.DataFrame({"doc_id": out_ids, "spans": out_spans})


def gen_docs_dist(spark, n_docs: int, seed: int = 42, partitions: int | None = None):
    """Distributed F1 generator: spark.range → mapInPandas. Use for bench /
    scale runs; ``gen_docs`` stays the small golden-fixture generator."""
    rng_seed = seed
    base = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            yield _doc_rows(pdf["id"].to_numpy(), rng_seed)

    return base.mapInPandas(gen, SPAN_SCHEMA)


def region_rows(n_bbox: int = 8, n_poly: int = 4, seed: int = 43) -> list[tuple]:
    """F3 region-table ROWS (no Spark) — the single source of truth shared by
    :func:`gen_regions` and the independent oracles
    (tests/independent_oracles.py), so the two sides can never drift."""
    rng = np.random.default_rng(seed)
    rows = []
    # pinned: hot-cluster bbox (London) and a no-match bbox (south pacific)
    rows.append(("region_hot", "bbox",
                 int(-0.45 * COORD_SCALE), int(51.2 * COORD_SCALE),
                 int(0.25 * COORD_SCALE), int(51.8 * COORD_SCALE), None, None))
    rows.append(("region_empty", "bbox",
                 int(-140.0 * COORD_SCALE), int(-45.0 * COORD_SCALE),
                 int(-139.0 * COORD_SCALE), int(-44.0 * COORD_SCALE), None, None))
    for i in range(n_bbox - 2):
        lon, lat = _coord(rng)
        w = int(rng.integers(100000, 3000000))
        h = int(rng.integers(100000, 3000000))
        rows.append((f"region_b{i}", "bbox", lon, lat, lon + w, lat + h, None, None))
    for i in range(n_poly):
        lon, lat = _coord(rng)
        n = int(rng.integers(4, 9))
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        rad = rng.integers(200000, 2000000, n)
        lons = (lon + rad * np.cos(ang)).astype(np.int64)
        lats = (lat + np.clip(rad * np.sin(ang), -80 * COORD_SCALE - lat, 80 * COORD_SCALE - lat)).astype(np.int64)
        rows.append((f"region_p{i}", "polygon", None, None, None, None,
                     [int(v) for v in lons], [int(v) for v in lats]))
    return rows


def gen_regions(spark, n_bbox: int = 8, n_poly: int = 4, seed: int = 43):
    """F3: bbox + polygon regions; one region pinned over a hot cluster (skew),
    one over empty ocean (matches nothing). Rows from :func:`region_rows`."""
    return spark.createDataFrame(
        region_rows(n_bbox, n_poly, seed),
        "region_id string, kind string, minx long, miny long, maxx long, maxy long, "
        "lons array<long>, lats array<long>",
    )


def _mp_rows(n_rels: int = 40, seed: int = 46):
    """F7: multipolygon-relation fixture rows (pure pandas — shared input
    contract with tests/independent_oracles.oracle_q35). Per relation:
    1-3 outer rings (regular polygons, some generated clockwise, each split
    into 1-4 member ways, some ways direction-reversed), 0-2 inner square
    rings inside outer #0, plus keyed edge cases:

      r % 7 == 1  a zero-area (collinear) closed "outer" ring  → dropped
      r % 7 == 3  an unclosed open arc with role outer         → dropped
      r % 7 == 5  a closed inner ring OUTSIDE every outer      → dropped
      r % 7 == 6  an outer ring with one way referencing a
                  missing node (way dropped whole → ring never
                  closes → partner way dropped too)

    Every relation also carries a node member (role admin_centre) and some a
    way member with role "label" — both must be ignored by the assembler.
    Returns (nodes_pdf, ways_pdf, rels_pdf)."""
    import math

    nodes: list[tuple[int, int, int]] = []
    ways: list[tuple[int, list[int]]] = []
    rels: list[tuple[int, list[tuple[int, int, str]]]] = []

    for r in range(n_rels):
        rng = np.random.default_rng([seed, r])
        base_lon = int(rng.integers(-160, 160)) * COORD_SCALE // 10
        base_lat = int(rng.integers(-70, 70)) * COORD_SCALE // 10
        nid = (r + 1) * 100_000
        wid = (r + 1) * 1_000
        members: list[tuple[int, int, str]] = []

        def add_ring(cx, cy, m, radius, role, ccw, n_ways, poison_ref=False):
            nonlocal nid, wid
            verts = [
                (
                    cx + int(radius * math.cos(2 * math.pi * k / m)),
                    cy + int(radius * math.sin(2 * math.pi * k / m)),
                )
                for k in range(m)
            ]
            if not ccw:
                verts = verts[::-1]
            vids = list(range(nid, nid + m))
            nid += m
            nodes.extend((v, x, y) for v, (x, y) in zip(vids, verts))
            s = min(n_ways, m)
            cuts = sorted(int(c) for c in rng.choice(m, size=s, replace=False))
            rot = vids[cuts[0]:] + vids[: cuts[0]]
            rel_cuts = sorted((c - cuts[0]) % m for c in cuts) + [m]
            seq = rot + [rot[0]]
            for a, b in zip(rel_cuts, rel_cuts[1:]):
                refs = seq[a : b + 1]
                if poison_ref and a == rel_cuts[0]:
                    refs = refs[:]
                    refs[1] = 10**15 + wid  # missing node (never generated)
                if rng.random() < 0.5:
                    refs = refs[::-1]
                ways.append((wid, refs))
                members.append((1, wid, role))
                wid += 1

        n_out = 1 + r % 3
        radius0 = int(rng.integers(500_000, 1_200_000))
        for o in range(n_out):
            add_ring(
                base_lon + o * 4_000_000,
                base_lat,
                m=4 + int(rng.integers(0, 4)),
                radius=radius0 if o == 0 else int(rng.integers(400_000, 1_000_000)),
                role="outer",
                ccw=bool(rng.random() < 0.6),
                n_ways=1 + int(rng.integers(0, 4)),
            )
        for _h in range((1 + r) % 3 if r % 2 == 0 else 0):
            off = int(radius0 * 0.25) * (1 if _h == 0 else -1)
            add_ring(
                base_lon + off,
                base_lat + off // 2,
                m=4,
                radius=max(50_000, int(radius0 * 0.15)),
                role="inner",
                ccw=bool(rng.random() < 0.5),
                n_ways=1 + int(rng.integers(0, 2)),
            )
        if r % 7 == 1:  # zero-area collinear "ring"
            a, b, c = nid, nid + 1, nid + 2
            d = 200_000
            nodes += [(a, base_lon + 5_000_000, base_lat),
                      (b, base_lon + 5_000_000 + d, base_lat),
                      (c, base_lon + 5_000_000 + 2 * d, base_lat)]
            nid += 3
            ways.append((wid, [a, b, c, a]))
            members.append((1, wid, "outer"))
            wid += 1
        if r % 7 == 3:  # open arc, never closes
            a, b, c = nid, nid + 1, nid + 2
            nodes += [(a, base_lon - 3_000_000, base_lat),
                      (b, base_lon - 3_200_000, base_lat + 300_000),
                      (c, base_lon - 3_400_000, base_lat)]
            nid += 3
            ways.append((wid, [a, b, c]))
            members.append((1, wid, "outer"))
            wid += 1
        if r % 7 == 5:  # closed inner ring outside every outer
            add_ring(base_lon + 20_000_000, base_lat + 10_000_000, m=4,
                     radius=300_000, role="inner", ccw=True, n_ways=1)
        if r % 7 == 6:  # ring poisoned by a missing node ref
            add_ring(base_lon, base_lat + 8_000_000, m=5, radius=600_000,
                     role="outer", ccw=True, n_ways=2, poison_ref=True)

        # non-way and non-outer/inner members: must be ignored
        centre = nid
        nodes.append((centre, base_lon, base_lat))
        nid += 1
        members.append((0, centre, "admin_centre"))
        if r % 5 == 0 and members:
            first_way = next(mm[1] for mm in members if mm[0] == 1)
            members.append((1, first_way, "label"))
        # relation ids are 1-based (OSM ids start at 1; id 0 would negate to
        # a non-negative osm_id in planet_osm_polygon's relation-row
        # convention). Edge-case classes stay keyed on r = id - 1.
        rels.append((r + 1, members))

    nodes_pdf = pd.DataFrame(nodes, columns=["id", "lon", "lat"]).astype(
        {"id": "int64", "lon": "int64", "lat": "int64"}
    )
    ways_pdf = pd.DataFrame(ways, columns=["id", "refs"])
    ways_pdf["id"] = ways_pdf["id"].astype("int64")
    rels_pdf = pd.DataFrame(rels, columns=["id", "members"])
    rels_pdf["id"] = rels_pdf["id"].astype("int64")
    return nodes_pdf, ways_pdf, rels_pdf


def gen_multipolygon(spark, n_rels: int = 40, seed: int = 46):
    """Spark frames for the multipolygon fixture: (nodes, ways, relations)."""
    nodes_pdf, ways_pdf, rels_pdf = _mp_rows(n_rels, seed)
    nodes = spark.createDataFrame(nodes_pdf, "id long, lon long, lat long")
    ways = spark.createDataFrame(
        [(int(i), [int(x) for x in refs]) for i, refs in ways_pdf.itertuples(index=False)],
        "id long, refs array<long>",
    )
    rels = spark.createDataFrame(
        [
            (int(i), [(int(mt), int(ref), role) for mt, ref, role in ms])
            for i, ms in rels_pdf.itertuples(index=False)
        ],
        "id long, members array<struct<mtype:int,ref:long,role:string>>",
    )
    return nodes, ways, rels
