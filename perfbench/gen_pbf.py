"""Seeded synthetic OSM PBF region extracts for the ``pbf_ingest`` workload.

Each file is written the way real extracts are: an ``OSMHeader`` blob,
then ``OSMData`` blobs of DenseNodes (with DenseInfo), then ways, then
relations, every blob zlib-compressed.  The byte assembly follows the
public format spec (fileformat.proto / osmformat.proto) through the
protobuf helpers of ``tests/pbf_encode_util.py``, which itself only
emits plain Nodes; nothing here calls the decoder under test.

The files deliberately include:

* a file with the default granularity (100) and no offsets, and one with
  granularity 50 and non-zero lat/lon offsets;
* a small file with negative lat/lon offsets (``OFFSET_CHECK_REGION``,
  written by ``generate_offset_check``), decoded once a run to report a
  known decoder defect and never timed;
* negative coordinates (a southern/western hemisphere region, written
  as negative raw values under a positive offset);
* coordinates on ``_round7``'s exact half boundary (granularity 50 with
  odd raw values puts a 5 in the eighth decimal);
* tag keys and values that are hard for the hstore ``other_tags``
  encoding (quotes, backslashes, ``=>``, commas, non-ASCII, spaces);
* line ways, closed polygon ways, multipolygon relations whose outer
  ring is split over two ways plus an inner ring, and route relations.

Run ``python3 perfbench/gen_pbf.py --seed 7 --out DIR`` to write the
files; ``generate`` returns the element counts and the expected decoded
node coordinates the benchmark checks the decoder against.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import struct
import sys
import zlib

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tests"))

from pbf_encode_util import _deltas, _f, _fv, _packed, _zz  # noqa: E402

#: (name, granularity, lat_offset, lon_offset, lat0, lon0) per region file;
#: lat0/lon0 are the region's south-west corner in degrees
REGIONS = [
    ("north", 100, 0, 0, 52.52, -0.82),
    ("south", 50, 1_000_000_000, 2_000_000_000, -33.60, -71.70),
]
#: negative offsets: int64 fields, so each is a 10-byte two's-complement varint
OFFSET_CHECK_REGION = ("offsets", 100, -1_500_000_000, -3_250_000_000, 40.70, -74.02)

HARD_VALUES = [
    'say "hi"',
    "back\\slash",
    "a=>b",
    "x,y,z",
    "Zürich Straße",
    "東京",
    "trailing\\",
    '"\\"',
    "",
]
HARD_KEYS = ["name:de", "addr:street", "note with space", 'q"key', "k=>v", "fixme"]
POINT_KEYS = ["name", "barrier", "highway", "ref", "address", "is_in", "place", "man_made"]
PLAIN_KEYS = ["amenity", "shop", "tourism", "operator", "opening_hours"]
INSIGNIFICANT = ["created_by", "source", "ele"]


def _blob(btype: str, payload: bytes) -> bytes:
    blob = _fv(2, len(payload)) + _f(3, zlib.compress(payload))
    header = _f(1, btype.encode()) + _fv(3, len(blob))
    return struct.pack(">i", len(header)) + header + blob


def _header_block(bbox: tuple[float, float, float, float]) -> bytes:
    left, bottom, right, top = (round(v * 1e9) for v in bbox)
    hb = _f(1, _fv(1, _zz(left)) + _fv(2, _zz(right)) + _fv(3, _zz(top)) + _fv(4, _zz(bottom)))
    hb += _f(4, b"OsmSchema-V0.6") + _f(4, b"DenseNodes")
    hb += _f(16, b"perfbench-gen_pbf")
    return _blob("OSMHeader", hb)


class _Strings:
    """One PrimitiveBlock's string table (index 0 is the empty string)."""

    def __init__(self):
        self.table = [""]
        self.index = {"": 0}

    def __call__(self, s: str) -> int:
        if s not in self.index:
            self.index[s] = len(self.table)
            self.table.append(s)
        return self.index[s]

    def encode(self) -> bytes:
        return b"".join(_f(1, s.encode("utf-8")) for s in self.table)


def _primitive_block(st: _Strings, group: bytes, gran: int, lat_off: int, lon_off: int) -> bytes:
    block = _f(1, st.encode()) + _f(2, group) + _fv(17, gran)
    # lat_offset / lon_offset are int64 (plain varint, two's complement
    # when negative), not sint64
    if lat_off:
        block += _fv(19, lat_off % (1 << 64))
    if lon_off:
        block += _fv(20, lon_off % (1 << 64))
    return _blob("OSMData", block)


def _sint_field(fno: int, vals: list[int]) -> bytes:
    return _f(fno, _packed(_deltas(vals)))


def _dense_block(nodes, gran, lat_off, lon_off, rng) -> bytes:
    st = _Strings()
    ids = [n[0] for n in nodes]
    kv: list[int] = []
    for _nid, _la, _lo, tags in nodes:
        for k, v in tags.items():
            kv += [st(k), st(v)]
        kv.append(0)
    n = len(nodes)
    user = st("mapper")
    info = (
        _f(1, _packed([rng.randint(1, 9) for _ in range(n)]))
        + _sint_field(2, [1_600_000_000 + i * 7 for i in range(n)])
        + _sint_field(3, [90_000_000 + i for i in range(n)])
        + _sint_field(4, [4242] * n)
        + _sint_field(5, [user] * n)
    )
    dense = (
        _sint_field(1, ids)
        + _f(5, info)
        + _sint_field(8, [n[1] for n in nodes])
        + _sint_field(9, [n[2] for n in nodes])
        + _f(10, _packed(kv))
    )
    return _primitive_block(st, _f(2, dense), gran, lat_off, lon_off)


def _tags_msg(st: _Strings, tags: dict) -> bytes:
    if not tags:
        return b""
    return _f(2, _packed([st(k) for k in tags])) + _f(3, _packed([st(v) for v in tags.values()]))


def _ways_block(ways, gran, lat_off, lon_off) -> bytes:
    st = _Strings()
    group = b""
    for wid, refs, tags in ways:
        group += _f(3, _fv(1, wid) + _tags_msg(st, tags) + _sint_field(8, refs))
    return _primitive_block(st, group, gran, lat_off, lon_off)


def _relations_block(rels, gran, lat_off, lon_off) -> bytes:
    st = _Strings()
    kinds = {"node": 0, "way": 1, "relation": 2}
    group = b""
    for rid, members, tags in rels:
        msg = _fv(1, rid) + _tags_msg(st, tags)
        msg += _f(8, _packed([st(role) for _t, _m, role in members]))
        msg += _sint_field(9, [m for _t, m, _r in members])
        msg += _f(10, _packed([kinds[t] for t, _m, _r in members]))
        group += _f(4, msg)
    return _primitive_block(st, group, gran, lat_off, lon_off)


def _node_tags(rng: random.Random, i: int) -> dict:
    r = rng.random()
    if r < 0.55:
        return {}
    if r < 0.62:  # insignificant only: decoded, but not a point feature
        return {rng.choice(INSIGNIFICANT): str(rng.randint(1, 99))}
    tags = {rng.choice(POINT_KEYS): f"{rng.choice(HARD_VALUES)} {i}"}
    for _ in range(rng.randint(0, 3)):
        k = rng.choice(HARD_KEYS + PLAIN_KEYS + INSIGNIFICANT)
        tags[k] = rng.choice(HARD_VALUES)
    return tags


def _region(rng, gran, lat_off, lon_off, lat0, lon0, n_nodes, id0):
    """Nodes on a jittered grid, ways over consecutive grid rows, and
    relations over those ways.  Returns (nodes, ways, rels, expected)
    with raw integer coordinates and the decoded (lat, lon) expected."""
    side = max(8, int(n_nodes**0.5))
    step = 0.0004
    nodes, expected = [], []
    nid = id0
    for i in range(n_nodes):
        nid += rng.randint(1, 3)
        lat = lat0 + (i // side) * step + rng.random() * step * 0.5
        lon = lon0 + (i % side) * step + rng.random() * step * 0.5
        raw_lat = round((lat * 1e9 - lat_off) / gran)
        raw_lon = round((lon * 1e9 - lon_off) / gran)
        if gran == 50:  # odd raw -> the value ends in ...5 at 1e-8 deg
            raw_lat |= 1
            raw_lon |= 1
        nodes.append((nid, raw_lat, raw_lon, _node_tags(rng, i)))
        expected.append(
            (nid, round(1e-9 * (lat_off + gran * raw_lat), 7), round(1e-9 * (lon_off + gran * raw_lon), 7))
        )
    ids = [n[0] for n in nodes]
    ways, rels = [], []
    wid = id0
    rows = n_nodes // side
    for r in range(rows - 1):
        base = r * side
        for c in range(0, side - 8, 8):
            wid += rng.randint(1, 4)
            kind = rng.random()
            if kind < 0.5:  # open line
                refs = ids[base + c : base + c + rng.randint(2, 8)]
                tags = {"highway": rng.choice(["residential", "service", "path"])}
                if rng.random() < 0.5:
                    tags["name"] = rng.choice(HARD_VALUES)
            else:  # closed ring over a 3x2 grid patch
                a, b = base + c, base + side + c
                refs = [ids[a], ids[a + 1], ids[a + 2], ids[b + 2], ids[b + 1], ids[b], ids[a]]
                if kind < 0.8:
                    tags = {"building": "yes", rng.choice(HARD_KEYS): rng.choice(HARD_VALUES)}
                elif kind < 0.9:
                    tags = {"barrier": "fence", "area": "no"}
                else:
                    tags = {}  # untagged: only reachable through a relation
            ways.append((wid, refs, tags))
    rid = id0
    lines = [w for w in ways if w[1][0] != w[1][-1]]
    for r in range(1, rows - 4, 3):
        # multipolygon: outer ring split over two open ways, inner ring closed
        a, b, c = r * side, (r + 3) * side, (r + 1) * side
        wid += 1
        outer1 = (wid, [ids[a], ids[a + 5], ids[b + 5]], {})
        wid += 1
        outer2 = (wid, [ids[b + 5], ids[b], ids[a]], {})
        wid += 1
        inner = (wid, [ids[c + 2], ids[c + 3], ids[c + side + 3], ids[c + 2]], {})
        ways += [outer1, outer2, inner]
        rid += rng.randint(1, 5)
        tags = {"type": "multipolygon", "landuse": rng.choice(["forest", "meadow"])}
        if rng.random() < 0.5:
            tags["name"] = rng.choice(HARD_VALUES)
        rels.append((rid, [("way", outer1[0], "outer"), ("way", outer2[0], "outer"), ("way", inner[0], "inner")], tags))
    for _ in range(max(1, len(lines) // 20)):
        rid += rng.randint(1, 5)
        members = [("way", w[0], "") for w in rng.sample(lines, min(3, len(lines)))]
        rels.append((rid, members, {"type": "route", "route": "bus", "ref": rng.choice(HARD_VALUES)}))
    bbox = (lon0, lat0, lon0 + side * step, lat0 + (rows + 1) * step)
    return nodes, ways, rels, expected, bbox


def write_region(path, rng, region, n_nodes, id0, nodes_per_block) -> dict:
    _name, gran, lat_off, lon_off, lat0, lon0 = region
    nodes, ways, rels, expected, bbox = _region(rng, gran, lat_off, lon_off, lat0, lon0, n_nodes, id0)
    with open(path, "wb") as f:
        f.write(_header_block(bbox))
        for i in range(0, len(nodes), nodes_per_block):
            f.write(_dense_block(nodes[i : i + nodes_per_block], gran, lat_off, lon_off, rng))
        f.write(_ways_block(sorted(ways), gran, lat_off, lon_off))
        f.write(_relations_block(rels, gran, lat_off, lon_off))
    return {"path": path, "nodes": len(nodes), "ways": len(ways), "relations": len(rels), "expected_nodes": expected}


#: region files per input, DenseNodes per file and per OSMData blob
N_FILES = 2
NODES_PER_FILE = 10_000
NODES_PER_BLOCK = 4_000


def generate(out_dir: str, seed: int) -> list[dict]:
    """Write ``N_FILES`` region extracts into ``out_dir``; file ``i`` is
    region ``REGIONS[i % len(REGIONS)]`` with its own seeded content."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    out = []
    for i in range(N_FILES):
        region = REGIONS[i % len(REGIONS)]
        path = os.path.join(out_dir, f"region-{i:02d}-{region[0]}.osm.pbf")
        out.append(write_region(path, rng, region, NODES_PER_FILE, (i + 1) * 10_000_000, NODES_PER_BLOCK))
    return out


def generate_offset_check(out_dir: str, seed: int) -> dict:
    """Write one small extract under ``OFFSET_CHECK_REGION`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{OFFSET_CHECK_REGION[0]}.osm.pbf")
    return write_region(path, random.Random(seed), OFFSET_CHECK_REGION, 400, 90_000_000, 400)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    files = generate(args.out, args.seed)
    print(json.dumps([{k: v for k, v in f.items() if k != "expected_nodes"} for f in files]))


if __name__ == "__main__":
    main()
