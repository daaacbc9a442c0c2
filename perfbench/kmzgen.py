"""Seeded KMZ corpus for the ``kmz_analyze`` workload.

The corpus imitates the shape of a real pipeline KMZ: LineString placemarks
with irregular vertex spacing, a declared ``<Schema>`` plus per-placemark
``ExtendedData/SchemaData/SimpleData`` attributes, and a vertex count per
line whose median is about 17 with a long tail.  Part of the line length is
planted in corridors: groups of 2 to 6 lines that run side by side, 8 to 12
metres apart, so that the overlap analysis has sections to find.  The rest
are loners that wander over the same area.  Line lengths are scaled so that
every seed gives the same total length and the same number of planted
pairs, which keeps the engine's work the same from seed to seed.

Everything derives from one ``numpy`` generator seeded by the caller, and
the zip entry carries a fixed timestamp, so the same seed gives the same
bytes.  ``generate`` returns the manifest the output checks use: counts,
the corridor share of length, the planted corridor pairs, and the vertex
coordinates exactly as written (rounded to the KML's 7 decimals).
"""

from __future__ import annotations

import io
import zipfile
from dataclasses import dataclass

import numpy as np

EARTH_R_M = 6371008.8  # IUGG mean radius, the engine's haversine radius
SEGMENT_M = 5.0
DETECTION_M = 15.0
CENTER_LON, CENTER_LAT = -103.5, 31.5  # Delaware basin, like the real fixture
AREA_DEG = 0.8  # loners and corridors start inside this square
PIPELINES = 60  # the benchmark's corpus size
HOP_M = 60.0  # mean distance between vertices
MEAN_HOPS = 27.0  # mean hop count per line, times HOP_M, sets line length
CORRIDOR_SHARE = 0.4  # share of the total length in planted corridors

SCHEMA_FIELDS = [
    ("OBJECTID", "int"), ("NAME", "string"), ("OPERATOR", "string"),
    ("COMMODITY1", "string"), ("DIAMETER", "double"), ("STATUS", "string"),
    ("COUNTY", "string"), ("STATE", "string"), ("GIS_MILES", "double"),
]
_COMMODITIES = ["NGL", "GAS", "CRUDE", "WATER", "CO2"]
_OPERATORS = ["Brazos Midstream", "Delaware Gas", "Permian Lines", "Pecos Oil"]
_COUNTIES = ["REEVES", "WARD", "LOVING", "PECOS", "CULBERSON"]


@dataclass
class Corpus:
    kmz: bytes
    lines: list[np.ndarray]  # per pipeline, (n, 2) lon/lat as written
    planted_pairs: list[tuple[int, int]]  # adjacent corridor members
    stats: dict


def haversine_length_m(lonlat: np.ndarray) -> float:
    """Length of one polyline: the sum of haversine hops (numpy, float64)."""
    lon = np.radians(lonlat[:, 0])
    lat = np.radians(lonlat[:, 1])
    dlat = np.diff(lat)
    dlon = np.diff(lon)
    a = (np.sin(dlat / 2) ** 2
         + np.cos(lat[:-1]) * np.cos(lat[1:]) * np.sin(dlon / 2) ** 2)
    return float(np.sum(2 * EARTH_R_M * np.arcsin(np.sqrt(a))))


def _to_lonlat(x_m: np.ndarray, y_m: np.ndarray, lat0: float) -> np.ndarray:
    """Local east/north metres -> lon/lat around the corpus centre."""
    lat = CENTER_LAT + np.degrees(y_m / EARTH_R_M)
    lon = CENTER_LON + np.degrees(x_m / (EARTH_R_M * np.cos(np.radians(lat0))))
    return np.column_stack([lon, lat])


def _vertex_count(rng: np.random.Generator) -> int:
    # lognormal around 17 with a long tail, clipped like the real fixture
    # (min 2, max ~600 vertices per line)
    return int(np.clip(np.round(rng.lognormal(np.log(17.0), 0.9)), 2, 600))


def _walk(rng: np.random.Generator, n: int, turn_deg: float):
    """A wandering path of n vertices with irregular hops, in metres."""
    hops = HOP_M * rng.lognormal(0.0, 0.45, n - 1)
    heading = rng.uniform(0, 2 * np.pi) + np.cumsum(
        np.radians(rng.normal(0.0, turn_deg, n - 1))
    )
    x = np.concatenate([[0.0], np.cumsum(hops * np.cos(heading))])
    y = np.concatenate([[0.0], np.cumsum(hops * np.sin(heading))])
    return x, y


def _length(x: np.ndarray, y: np.ndarray) -> float:
    return float(np.sum(np.hypot(np.diff(x), np.diff(y))))


def _offset(x: np.ndarray, y: np.ndarray, d: float):
    """Offset a polyline sideways by d metres along its vertex normals."""
    dx, dy = np.gradient(x), np.gradient(y)
    norm = np.hypot(dx, dy)
    return x - d * dy / norm, y + d * dx / norm


def generate(seed: int, n_pipelines: int = PIPELINES) -> Corpus:
    """Pipelines in file order: corridor members first (adjacent members
    are the planted pairs), then loners."""
    rng = np.random.default_rng(seed)
    half = AREA_DEG / 2 * 111_000.0
    # Corridor sizes cycle through 2..6 lines until about CORRIDOR_SHARE of
    # the lines are corridor members, so every seed plants the same number
    # of pairs (the count of sections drives much of the analysis work).
    sizes: list[int] = []
    while sum(sizes) + 2 + len(sizes) % 5 <= CORRIDOR_SHARE * n_pipelines:
        sizes.append(2 + len(sizes) % 5)
    # Corridor base paths turn gently (3 degrees per vertex) so the offset
    # members stay parallel well inside the engine's bearing tolerance.
    corridors = [_walk(rng, max(_vertex_count(rng), 8), turn_deg=3.0)
                 for _ in sizes]
    loners = [_walk(rng, _vertex_count(rng), turn_deg=25.0)
              for _ in range(n_pipelines - sum(sizes))]
    # The long tail of vertex counts makes lengths swing from seed to seed;
    # scale the walks (not the corridor spacing) so the corridor members and
    # the loners each get a fixed share of a fixed total length.
    total = n_pipelines * HOP_M * MEAN_HOPS
    c_scale = CORRIDOR_SHARE * total / sum(
        k * _length(x, y) for k, (x, y) in zip(sizes, corridors))
    l_scale = (1 - CORRIDOR_SHARE) * total / sum(_length(x, y) for x, y in loners)

    paths: list[tuple[np.ndarray, np.ndarray]] = []
    planted: list[tuple[int, int]] = []
    for k, (x, y) in zip(sizes, corridors):
        cx, cy = rng.uniform(-half, half, 2)
        # 8-12 m between neighbours: inside the 15 m detection range, and
        # two gaps apart always outside it
        offsets = np.concatenate([[0.0], np.cumsum(rng.uniform(8.0, 12.0, k - 1))])
        first = len(paths)
        for j, d in enumerate(offsets):
            ox, oy = _offset(x * c_scale, y * c_scale, d)
            paths.append((ox + cx, oy + cy))
            if j:
                planted.append((first + j - 1, first + j))
    for x, y in loners:
        cx, cy = rng.uniform(-half, half, 2)
        paths.append((x * l_scale + cx, y * l_scale + cy))

    lines = [np.round(_to_lonlat(x, y, CENTER_LAT), 7) for x, y in paths]
    kml = _render_kml(rng, lines)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        info = zipfile.ZipInfo("doc.kml", date_time=(1980, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_DEFLATED
        z.writestr(info, kml)

    lengths = [haversine_length_m(ll) for ll in lines]
    in_corridor = {p for pair in planted for p in pair}
    total = float(sum(lengths))
    corridor = float(sum(lengths[i] for i in in_corridor))
    vertices = int(sum(len(ll) for ll in lines))
    stats = {
        "seed": seed,
        "pipelines": len(lines),
        "vertices": vertices,
        "median_vertices": float(np.median([len(ll) for ll in lines])),
        "max_vertices": int(max(len(ll) for ll in lines)),
        "segments": int(sum(int(length // SEGMENT_M) for length in lengths)),
        "corridor_pipelines": len(in_corridor),
        "corridor_share": corridor / total,
        "planted_pairs": [list(p) for p in planted],
        "kmz_bytes": len(buf.getvalue()),
    }
    return Corpus(buf.getvalue(), lines, planted, stats)


def _render_kml(rng: np.random.Generator, lines: list[np.ndarray]) -> bytes:
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<kml xmlns="http://www.opengis.net/kml/2.2">\n<Document>\n'
        "<name>perfbench corpus</name>\n"
        '<Schema name="pipelines" id="pipelines">\n'
    ]
    out += [f'  <SimpleField type="{t}" name="{n}"></SimpleField>\n'
            for n, t in SCHEMA_FIELDS]
    out.append("</Schema>\n<Folder><name>pipelines</name>\n")
    for i, ll in enumerate(lines):
        name = f"Line {i:05d}"
        miles = haversine_length_m(ll) / 1609.347218694
        attrs = {
            "OBJECTID": str(1000 + i),
            "NAME": name,
            "OPERATOR": _OPERATORS[int(rng.integers(len(_OPERATORS)))],
            "COMMODITY1": _COMMODITIES[int(rng.integers(len(_COMMODITIES)))],
            "DIAMETER": f"{float(rng.choice([4.5, 6.625, 8.625, 12.75, 16.0])):.3f}",
            "STATUS": "ACTIVE" if rng.random() < 0.9 else "IDLE",
            "COUNTY": _COUNTIES[int(rng.integers(len(_COUNTIES)))],
            "STATE": "TX",
            "GIS_MILES": f"{miles:.4f}",
        }
        coords = " ".join(f"{lon:.7f},{lat:.7f},0" for lon, lat in ll)
        data = "".join(f'<SimpleData name="{k}">{v}</SimpleData>'
                       for k, v in attrs.items())
        out.append(
            f"<Placemark><name>{name}</name>"
            f'<ExtendedData><SchemaData schemaUrl="#pipelines">{data}'
            f"</SchemaData></ExtendedData>"
            f"<LineString><tessellate>1</tessellate>"
            f"<coordinates>{coords}</coordinates></LineString></Placemark>\n"
        )
    out.append("</Folder>\n</Document>\n</kml>\n")
    return "".join(out).encode()
