"""Seeded synthetic OSM XML extract for the `osm_region` workload.

The file has the shape of a regional OSM v0.6 extract, the only input shape
`graft.osm.OsmXml.parse` reads:

- a jittered street grid of nodes, cut into open `highway` ways whose `nd`
  refs follow the street in order (consecutive ways share their end node);
- closed `building` rings (first ref repeated last), some carrying an
  `amenity` tag;
- stand-alone tagged POI nodes (`amenity` / `shop`);
- `multipolygon` relations (outer building ring + inner courtyard ring) and
  `restriction` relations (from way, via node, to way).

The seed jitters node positions within a tenth of the grid spacing and
picks tags, road cuts, buildings and relations. The grid origin and size
are the same for every seed, so every seed yields about the same amount of
work: the raster passes touch a few tiles at zoom 12 (they fit the 64-tile
per-partition LRU of `CachingTileStore`) and a few hundred at zoom 15
(they overflow it).

Run directly to write a file and print its size record:

    python3 perfbench/gen_osm.py --seed 1 --out region.osm
"""

import argparse
import json
import os
import random

# Grid extent: ROWS x COLS street nodes, DLAT x DLON degrees apart. The
# raster passes sample way vertices. The spacing exceeds a zoom-15 tile, so
# each street node has a zoom-15 tile of its own: 285 tiles, ~71 for each of
# the sampler's 4 tile partitions (one per core on the reference host),
# more than the 64-tile LRU holds. The area spans about 12 zoom-12 tiles.
LAT0, LON0 = 34.05, -118.35
ROWS, COLS = 15, 19
DLAT, DLON = 0.0115, 0.0128
STREET_EVERY = 1          # a street on every grid row / column
BUILDINGS = 60
POIS = 40
MULTIPOLYGONS = 8
RESTRICTIONS = 8

HIGHWAYS = ["residential"] * 6 + ["tertiary"] * 2 + ["secondary", "primary",
            "service", "footway", "cycleway", "unclassified"]
AMENITIES = ["cafe", "restaurant", "school", "pharmacy", "bank", "library",
             "fuel", "parking", "bench", "post_office"]
SHOPS = ["bakery", "supermarket", "books", "hardware", "clothes"]
STREET_NAMES = ["Oak", "Maple", "Pine", "Cedar", "Elm", "Walnut", "Lake",
                "Hill", "Mission", "Colorado", "Arroyo", "Foothill"]


def _attrs(rng, eid):
    ts = "20%02d-%02d-%02dT%02d:%02d:%02dZ" % (
        rng.randint(10, 23), rng.randint(1, 12), rng.randint(1, 28),
        rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59))
    uid = rng.randint(1, 5000)
    return ('id="%d" version="%d" changeset="%d" timestamp="%s" '
            'user="mapper%d" uid="%d" visible="true"'
            % (eid, rng.randint(1, 9), rng.randint(1, 10**8), ts, uid, uid))


def _tags(tags):
    return "".join('<tag k="%s" v="%s"/>' % kv for kv in tags)


def generate(seed, path):
    """Write the extract to `path`; return its size record."""
    rng = random.Random(seed)
    lat0, lon0 = LAT0, LON0
    out = []
    nodes, ways, rels = [], [], []   # (id, xml) per kind
    next_id = [1]

    def new_id():
        next_id[0] += 1
        return next_id[0]

    def node(lat, lon, tags=()):
        nid = new_id()
        body = _tags(tags)
        xml = '<node %s lat="%.7f" lon="%.7f"' % (_attrs(rng, nid), lat, lon)
        nodes.append(xml + ('>' + body + '</node>' if body else '/>'))
        return nid

    def way(refs, tags):
        wid = new_id()
        nds = "".join('<nd ref="%d"/>' % r for r in refs)
        ways.append('<way %s>%s%s</way>' % (_attrs(rng, wid), nds, _tags(tags)))
        return wid

    grid = [[node(lat0 + i * DLAT + rng.uniform(-0.1, 0.1) * DLAT,
                  lon0 + j * DLON + rng.uniform(-0.1, 0.1) * DLON)
             for j in range(COLS)] for i in range(ROWS)]

    def street(refs, name):
        """Cut one street into ways of 4-12 nodes sharing end nodes."""
        ids, start = [], 0
        kind = rng.choice(HIGHWAYS)
        while start < len(refs) - 1:
            end = min(len(refs) - 1, start + rng.randint(3, 11))
            tags = [("highway", kind), ("name", name + " Street")]
            if rng.random() < 0.3:
                tags.append(("maxspeed", "%d mph" % rng.choice([25, 35, 45])))
            ids.append((way(refs[start:end + 1], tags), refs[start:end + 1]))
            start = end
        return ids

    streets = []
    for i in range(0, ROWS, STREET_EVERY):
        streets += street(grid[i], rng.choice(STREET_NAMES))
    for j in range(0, COLS, STREET_EVERY):
        streets += street([grid[i][j] for i in range(ROWS)],
                          rng.choice(STREET_NAMES))

    def ring(lat, lon, half_lat, half_lon, tags):
        corners = [node(lat - half_lat, lon - half_lon),
                   node(lat - half_lat, lon + half_lon),
                   node(lat + half_lat, lon + half_lon),
                   node(lat + half_lat, lon - half_lon)]
        return way(corners + corners[:1], tags)

    buildings = []
    for _ in range(BUILDINGS):
        i, j = rng.randrange(ROWS - 1), rng.randrange(COLS - 1)
        lat = lat0 + (i + 0.5) * DLAT
        lon = lon0 + (j + 0.5) * DLON
        tags = [("building", rng.choice(["yes", "house", "apartments", "retail"]))]
        if rng.random() < 0.25:
            tags.append(("amenity", rng.choice(AMENITIES)))
        buildings.append((ring(lat, lon, DLAT * 0.15, DLON * 0.15, tags), lat, lon))

    for _ in range(POIS):
        tags = ([("amenity", rng.choice(AMENITIES))] if rng.random() < 0.75
                else [("shop", rng.choice(SHOPS))])
        tags.append(("name", "Place %d" % rng.randint(1, 999)))
        node(lat0 + rng.uniform(0, ROWS - 1) * DLAT,
             lon0 + rng.uniform(0, COLS - 1) * DLON, tags)

    def relation(members, tags):
        rid = new_id()
        body = "".join('<member type="%s" ref="%d" role="%s"/>' % m for m in members)
        rels.append('<relation %s>%s%s</relation>' % (_attrs(rng, rid), body, _tags(tags)))

    for outer, lat, lon in rng.sample(buildings, MULTIPOLYGONS):
        inner = ring(lat, lon, DLAT * 0.05, DLON * 0.05, [])
        relation([("way", outer, "outer"), ("way", inner, "inner")],
                 [("type", "multipolygon"), ("building", "yes")])

    # A restriction needs two ways meeting at a node: consecutive pieces of
    # one street share their joint node.
    joints = [(a, b) for a, b in zip(streets, streets[1:]) if a[1][-1] == b[1][0]]
    for (wa, ra), (wb, _) in rng.sample(joints, RESTRICTIONS):
        relation([("way", wa, "from"), ("node", ra[-1], "via"), ("way", wb, "to")],
                 [("type", "restriction"),
                  ("restriction", rng.choice(["no_left_turn", "no_u_turn",
                                              "only_straight_on"]))])

    out.append('<?xml version="1.0" encoding="UTF-8"?>')
    out.append('<osm version="0.6" generator="perfbench gen_osm.py">')
    out.append('<bounds minlat="%.7f" minlon="%.7f" maxlat="%.7f" maxlon="%.7f"/>'
               % (lat0 - DLAT, lon0 - DLON, lat0 + ROWS * DLAT, lon0 + COLS * DLON))
    out += nodes + ways + rels
    out.append('</osm>')
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(out) + "\n")
    return {"bytes": os.path.getsize(path), "nodes": len(nodes),
            "ways": len(ways), "relations": len(rels),
            "elements": len(nodes) + len(ways) + len(rels)}


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.out)))
