"""Pure-Python oracle: single-threaded reference semantics, exactly.

This is an independent reimplementation (NOT a copy) of the behaviour of
the reference pipeline, used as the correctness judge for the Spark engine
(SURVEY.md §5 layer 2).  Every block cites the /root/reference file:line
whose observable behaviour it mirrors.  Geodesy comes from the *same*
module the engine uses (functions/geodesy.py), so engine↔oracle float
parity is exact by construction.

Scope: network build (OSMDataStore.addOsm/getStreetSegments/createTripLine,
jumper merge), per-vehicle crossing state machine (Vehicle.processVehicle),
and histogram binning (StatsDataStore.save).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..config import (
    EngineConfig,
    INTERSECTION_MARGIN_METERS,
    MAX_PAIR_DELTA_MS_FIXED,
    MAX_PAIR_DELTA_MS_QUIRK,
    MAX_SPEED,
    MIN_SEGMENT_LEN,
    SEC_TO_MS_THRESHOLD,
    TRIPLINE_RADIUS,
    Z_ITEM,
)
from ..functions import binning
from ..functions.cells import bbox_tiles_np, tile_x_np, tile_y_np
from ..functions.geodesy import (
    bearing_at_index,
    clamp_azimuth,
    extract_point,
    planar_lengths,
    vincenty_direct,
    vincenty_inverse,
)
from ..functions.ids import segment_id_py, tripline_id_py

PRIMARY_TYPES = {"motorway", "trunk", "primary", "primary_link", "motorway_link", "unclassified"}


@dataclass
class Segment:
    segment_id: int
    way_id: int
    start_node: int
    end_node: int
    lons: np.ndarray
    lats: np.ndarray
    length_m: float
    oneway: bool
    street_type: int


@dataclass
class TripLine:
    tripline_id: int
    segment_id: int
    index: int  # 1 or 2
    dist: float
    lons: np.ndarray  # [left, right]
    lats: np.ndarray


@dataclass
class Jumper:
    start_node: int
    end_node: int
    length: float
    segments: list[int]


@dataclass
class Network:
    segments: dict[int, Segment] = field(default_factory=dict)
    triplines: list[TripLine] = field(default_factory=list)
    jumpers: dict[tuple[int, int], Jumper] = field(default_factory=dict)
    tile_index: dict[tuple[int, int], list[int]] = field(default_factory=dict)
    tl_by_id: dict[int, TripLine] = field(default_factory=dict)


def street_type_of(tags: dict) -> int:
    """StreetSegment.getRoadwayType (StreetSegment.java:107-128)."""
    hw = tags.get("highway")
    if hw is None:
        return 0
    if hw in PRIMARY_TYPES:
        return 1
    if hw == "secondary":
        return 2
    if hw == "tertiary":
        return 3
    if hw == "residential":
        return 4
    return 5


def is_oneway(tags: dict) -> bool:
    """StreetSegment.isOneWay (StreetSegment.java:99-103).  Way.tagIsTrue
    accepts yes/true/1."""
    if tags.get("oneway") in ("yes", "true", "1"):
        return True
    if tags.get("highway") == "motorway":
        return True
    if tags.get("junction") == "roundabout":
        return True
    return False


def is_traffic_edge(tags: dict) -> bool:
    """StreetSegment.isTrafficEdge (StreetSegment.java:130-138): every
    tagged highway counts (types 1-5); only missing highway is excluded."""
    return tags.get("highway") is not None


def find_intersections(ways) -> set[int]:
    """OSMDataStore.findIntersections (OSMDataStore.java:481-508): node id
    on its 2nd sighting across (or within) traffic ways."""
    seen: set[int] = set()
    intersections: set[int] = set()
    for _, nodes, tags in ways:
        if not is_traffic_edge(tags):
            continue
        for n in nodes:
            if n in seen:
                intersections.add(n)
            else:
                seen.add(n)
    return intersections


def add_jumper(jumpers, start_index, end_index, j: Jumper):
    """JumperDataStore.addJumper (JumperDataStore.java:59-111) including the
    merged-array order quirk in Jumper.merge (Jumper.java:59-78): the
    *existing* jumper's segments always precede the new one's."""
    key = (j.start_node, j.end_node)
    if key in jumpers:
        return
    # jumpers starting at my end node (sorted NavigableSet order)
    for adj_key in sorted(k for k in start_index if k[0] == j.end_node):
        adj = jumpers.get(adj_key)
        if adj is None:
            continue
        if adj.start_node == j.end_node and adj.end_node == j.start_node:
            continue  # exact reverse
        if adj.start_node == j.end_node:  # merge(adjacent, j) branch 1
            merged = Jumper(j.start_node, adj.end_node, adj.length + j.length,
                            list(adj.segments) + list(j.segments))
            jumpers[(merged.start_node, merged.end_node)] = merged
            start_index.add((merged.start_node, merged.end_node))
            end_index.add((merged.end_node, merged.start_node))
    # jumpers ending at my start node
    for adj_key in sorted(k for k in end_index if k[0] == j.start_node):
        adj = jumpers.get((adj_key[1], adj_key[0]))
        if adj is None:
            continue
        if adj.start_node == j.end_node and adj.end_node == j.start_node:
            continue
        if adj.end_node == j.start_node:  # merge branch 2
            merged = Jumper(adj.start_node, j.end_node, adj.length + j.length,
                            list(adj.segments) + list(j.segments))
            jumpers[(merged.start_node, merged.end_node)] = merged
            start_index.add((merged.start_node, merged.end_node))
            end_index.add((merged.end_node, merged.start_node))
    jumpers[key] = j
    start_index.add(key)
    end_index.add((j.end_node, j.start_node))


def build_network(nodes_df, ways_df) -> Network:
    """OSMDataStore.addOsm/getStreetSegments (OSMDataStore.java:345-424,
    516-592) + tripline creation (:594-612) + jumper build (:396-398)."""
    coords = {int(r.node_id): (float(r.lon), float(r.lat)) for r in nodes_df.itertuples()}
    ways = sorted(
        ((int(r.way_id), list(r.nodes), dict(r.tags)) for r in ways_df.itertuples()),
        key=lambda w: w[0],
    )
    intersections = find_intersections(ways)

    net = Network()
    start_index: set = set()
    end_index: set = set()
    seen_keys: set = set()

    for way_id, nodes, tags in ways:
        if not is_traffic_edge(tags):
            continue
        if any(n not in coords for n in nodes):
            continue  # OSMUtils.getLineStringForWay throws → way skipped
        stype = street_type_of(tags)
        oneway = is_oneway(tags)

        seg_dist = 0.0
        last_node = None
        last_pt = None
        seg_coords: list[tuple[float, float]] = []
        for i, node_id in enumerate(nodes):
            if last_node is None:
                last_node = node_id
            pt = coords[node_id]
            if last_pt is not None:
                seg_dist += float(vincenty_inverse(last_pt[0], last_pt[1], pt[0], pt[1])[0])
            last_pt = pt
            seg_coords.append(pt)
            if len(seg_coords) > 1 and (node_id in intersections or i == len(nodes) - 1):
                lons = np.array([c[0] for c in seg_coords])
                lats = np.array([c[1] for c in seg_coords])

                def emit(a, b, lo, la):
                    key = (way_id, a, b)
                    if key in seen_keys:
                        return  # dedupe on logical key (OSMDataStore.java:378-379)
                    seen_keys.add(key)
                    sid = segment_id_py(way_id, a, b)
                    seg = Segment(sid, way_id, a, b, lo, la, seg_dist, oneway, stype)
                    net.segments[sid] = seg
                    if seg_dist > MIN_SEGMENT_LEN:
                        for tl in make_triplines(seg):
                            net.triplines.append(tl)
                    else:
                        add_jumper(net.jumpers, start_index, end_index,
                                   Jumper(a, b, seg_dist, [sid]))

                emit(last_node, node_id, lons, lats)
                if not oneway:  # reverse twin (OSMDataStore.java:576-580)
                    emit(node_id, last_node, lons[::-1].copy(), lats[::-1].copy())

                seg_coords = [pt]
                seg_dist = 0.0
                last_node = node_id

    for tl in net.triplines:
        net.tl_by_id[tl.tripline_id] = tl
        for t in bbox_tiles_np(tl.lons, tl.lats, Z_ITEM, margin=0):
            net.tile_index.setdefault(t, []).append(tl.tripline_id)
    for ids in net.tile_index.values():
        ids.sort()
    return net


def make_triplines(seg: Segment) -> list[TripLine]:
    """OSMDataStore.createTripLine (OSMDataStore.java:381-395, 594-612):
    planar LengthIndexedLine placement scaled by planar/geodesic ratio,
    ε-probe bearing, ±90° destination points at 10 m."""
    cum = planar_lengths(seg.lons, seg.lats)
    scale = float(cum[-1]) / seg.length_m
    out = []
    for index, dist in (
        (INTERSECTION_MARGIN_METERS * scale, INTERSECTION_MARGIN_METERS),
        ((seg.length_m - INTERSECTION_MARGIN_METERS) * scale,
         seg.length_m - INTERSECTION_MARGIN_METERS),
    ):
        tl_index = 1 if dist == INTERSECTION_MARGIN_METERS else 2
        bearing = bearing_at_index(seg.lons, seg.lats, index)
        px, py = extract_point(seg.lons, seg.lats, index)
        rx, ry = vincenty_direct(px, py, float(clamp_azimuth(bearing + 90.0)), TRIPLINE_RADIUS)
        lx, ly = vincenty_direct(px, py, float(clamp_azimuth(bearing - 90.0)), TRIPLINE_RADIUS)
        out.append(
            TripLine(
                tripline_id=tripline_id_py(seg.segment_id, tl_index),
                segment_id=seg.segment_id,
                index=tl_index,
                dist=dist,
                lons=np.array([lx, rx]),
                lats=np.array([ly, ry]),
            )
        )
    return out


# ---------------------------------------------------------------------------
# per-vehicle processing (Vehicle.processVehicle, Vehicle.java:72-174)
# ---------------------------------------------------------------------------


def intersection_distance(p0, p1, q0, q1):
    """LineSegment.intersectionDistance (geom/LineSegment.java:17-43)."""
    rx, ry = p1[0] - p0[0], p1[1] - p0[1]
    sx, sy = q1[0] - q0[0], q1[1] - q0[1]
    rxs = rx * sy - ry * sx
    if rxs == 0:
        return None
    ax, ay = q0[0] - p0[0], q0[1] - p0[1]
    bx, by = sx / rxs, sy / rxs
    return ax * by - ay * bx


def tile_zone_offsets(fixes_df, tz_polygons_pd, tz_offsets_ms: dict[int, int]):
    """C13 oracle dim: z11 tile → raw zone offset ms, looked up at the tile
    envelope centre (OSMDataStore.java:412 + TimeConverter.java:183-190;
    missing zone ⇒ 0).  Same even-odd PIP code as the engine
    (functions/pip.py), so parity is exact away from polygon boundaries."""
    from ..functions.cells import tile2lat_np, tile2lon_np
    from ..functions.pip import assign_polys_np

    lons = fixes_df["lon"].to_numpy(dtype=np.float64)
    lats = fixes_df["lat"].to_numpy(dtype=np.float64)
    tx = tile_x_np(lons, 11)
    ty = tile_y_np(lats, 11)
    tiles = sorted({(int(x), int(y)) for x, y in zip(tx, ty)})
    xs = np.array([t[0] for t in tiles], dtype=np.float64)
    ys = np.array([t[1] for t in tiles], dtype=np.float64)
    cx = (tile2lon_np(xs, 11) + tile2lon_np(xs + 1, 11)) / 2
    cy = (tile2lat_np(ys, 11) + tile2lat_np(ys + 1, 11)) / 2
    polys = [
        (int(r.poly_id), np.asarray(r.lons, dtype=np.float64), np.asarray(r.lats, dtype=np.float64))
        for r in tz_polygons_pd.itertuples()
    ]
    pid = assign_polys_np(cx, cy, polys)
    return {t: int(tz_offsets_ms.get(int(p), 0)) for t, p in zip(tiles, pid)}


def process_traces(fixes_df, net: Network, cfg: EngineConfig = EngineConfig(),
                   zone_offset_ms: int = 0, tile_offsets: dict | None = None):
    """Returns (crossings, samples).

    crossings: dicts (trace_id, seq, time, segment_id, tripline_index,
    tripline_id, tile_x, tile_y) — the J1+J2 join result rows incl. the
    reference's duplicate hits when a tripline spans several index tiles.
    samples: dicts (trace_id, segment_id, time, speed, source).
    """
    max_gap = MAX_PAIR_DELTA_MS_QUIRK if cfg.strict_parity else MAX_PAIR_DELTA_MS_FIXED
    crossings_out, samples_out = [], []

    for trace_id, grp in fixes_df.sort_values(["trace_id", "seq"]).groupby("trace_id"):
        last = None  # (ts, lat, lon)
        pending: list[dict] = []
        last_segment: Segment | None = None
        last_segment_time = None

        for row in grp.itertuples():
            ts = int(row.ts)
            if ts < SEC_TO_MS_THRESHOLD:  # GPSPoint.java:28-29
                ts *= 1000
            if cfg.convert_to_localtime:
                # GPSPoint.offsetTime (GPSPoint.java:38-41); per-point z11
                # area lookup (Vehicle.java:96-102) when tile_offsets given
                if tile_offsets is not None:
                    tx = int(tile_x_np(np.array([float(row.lon)]), 11)[0])
                    ty = int(tile_y_np(np.array([float(row.lat)]), 11)[0])
                    ts += tile_offsets.get((tx, ty), 0)
                else:
                    ts += zone_offset_ms
            cur = (ts, float(row.lat), float(row.lon))
            p0, last = last, cur
            if p0 is None:
                continue  # first fix (Vehicle.java:110-112)
            if cur[0] - p0[0] > max_gap:  # Vehicle.java:118-120 (µs quirk)
                continue
            if p0[1] == cur[1] and p0[2] == cur[2]:
                continue  # stationary (GPSSegment.isStill)

            # --- J1: expanded-envelope tile scan (SpatialDataStore.java:131-179)
            lons = np.array([p0[2], cur[2]])
            lats = np.array([p0[1], cur[1]])
            duration = cur[0] - p0[0]
            seg_crossings = []
            for tile in bbox_tiles_np(lons, lats, Z_ITEM, margin=1):
                for tl_id in net.tile_index.get(tile, ()):  # dup hits preserved
                    tl = net.tl_by_id[tl_id]
                    # --- J2 refine (GPSSegment.getCrossing, GPSSegment.java:30-46)
                    t_gps = intersection_distance(
                        (p0[2], p0[1]), (cur[2], cur[1]),
                        (tl.lons[0], tl.lats[0]), (tl.lons[1], tl.lats[1]))
                    if t_gps is None or t_gps < 0 or t_gps > 1:
                        continue
                    t_tl = intersection_distance(
                        (tl.lons[0], tl.lats[0]), (tl.lons[1], tl.lats[1]),
                        (p0[2], p0[1]), (cur[2], cur[1]))
                    if t_tl is None or t_tl < 0 or t_tl > 1:
                        continue
                    time = int(duration * t_gps + p0[0])  # (long) truncation
                    seg_crossings.append(
                        dict(trace_id=trace_id, seq=int(row.seq), time=time,
                             segment_id=tl.segment_id, tripline_index=tl.index,
                             tripline_id=tl.tripline_id, dist=tl.dist,
                             tile_x=tile[0], tile_y=tile[1]))
            # sort by time; stable ⇒ ties keep (tile_x, tile_y, id) scan order
            seg_crossings.sort(key=lambda c: c["time"])
            crossings_out.extend(seg_crossings)

            # --- J3/J4 state machine (Vehicle.java:139-170, 250-275)
            for c in seg_crossings:
                last_crossing = None
                for pc in sorted(pending, key=lambda p: (p["time"], p["tripline_id"])):
                    if (pc["segment_id"] == c["segment_id"]
                            and pc["tripline_index"] <= c["tripline_index"]
                            and abs(pc["tripline_index"] - c["tripline_index"]) == 1):
                        last_crossing = pc
                        pending = []  # completion clears all pending
                        break
                if c["tripline_index"] == 1:
                    pending.append(c)
                if last_crossing is None:
                    continue
                # admissibility (Vehicle.getAdmissibleSpeedSample:215-248)
                if c["tripline_index"] < last_crossing["tripline_index"]:
                    continue
                ds = abs(c["dist"] - last_crossing["dist"])
                dt_s = (c["time"] - last_crossing["time"]) // 1000  # long division
                if dt_s < 0:
                    raise RuntimeError("crossing before last crossing")
                if dt_s == 0:
                    continue
                speed = ds / dt_s
                if speed > MAX_SPEED:
                    continue
                sample = dict(trace_id=trace_id, segment_id=c["segment_id"],
                              time=last_crossing["time"], speed=speed, source="crossing",
                              end_time=c["time"])
                cur_seg = net.segments.get(c["segment_id"])
                if cur_seg is not None and last_segment is not None:
                    if last_segment.end_node != cur_seg.start_node:
                        j = net.jumpers.get((last_segment.end_node, cur_seg.start_node))
                        if j is not None:
                            # Jumper.getSpeedSamples (Jumper.java:46-57):
                            # integer-second division; samples at endTime
                            dtj = (sample["time"] - last_segment_time) // 1000
                            jspeed = (j.length + MIN_SEGMENT_LEN * 2) / dtj if dtj != 0 else float("inf")
                            for sid in j.segments:
                                samples_out.append(dict(
                                    trace_id=trace_id, segment_id=sid,
                                    time=sample["time"], speed=jspeed, source="jumper",
                                    end_time=c["time"]))
                last_segment_time = sample["time"]
                last_segment = cur_seg
                samples_out.append(sample)

    return crossings_out, samples_out


def offmap_traces(samples, net: Network, fixes_df,
                  cfg: EngineConfig = EngineConfig(), zone_offset_ms: int = 0):
    """OffMapTrace oracle — the exact rule plans/match.offmap_traces
    implements (see its docstring: the reference defines the store/query
    surface, geom/OffMapTrace.java:6-21 + OSMDataStore.java:156-158, but no
    producer; the gap rule is this engine's, mirrored bit-for-bit here).

    Consecutive crossing samples per trace in (time, end_time, segment_id)
    order whose segments aren't node-adjacent nor jumper-bridged; polyline
    = trace fixes with end_time(A) <= ts <= time(B), time-sorted."""
    from collections import defaultdict

    from ..functions.ids import det_id_py

    by_trace: dict = defaultdict(list)
    for s in samples:
        if s["source"] == "crossing":
            by_trace[s["trace_id"]].append(s)

    # ms-coerced (+tz) fixes per trace, sorted by ts (mirrors decode_fixes)
    fixes_by_trace: dict = defaultdict(list)
    for r in fixes_df.itertuples():
        ts = int(r.ts)
        if ts < SEC_TO_MS_THRESHOLD:
            ts *= 1000
        if cfg.convert_to_localtime:
            ts += zone_offset_ms
        fixes_by_trace[int(r.trace_id)].append((ts, float(r.lon), float(r.lat)))
    for v in fixes_by_trace.values():
        v.sort()

    out = []
    for trace_id, ss in sorted(by_trace.items()):
        ss.sort(key=lambda s: (s["time"], s["end_time"], s["segment_id"]))
        for a, b in zip(ss, ss[1:]):
            sa = net.segments[a["segment_id"]]
            sb = net.segments[b["segment_id"]]
            if sa.end_node == sb.start_node:
                continue
            if (sa.end_node, sb.start_node) in net.jumpers:
                continue
            t0, t1 = a["end_time"], b["time"]
            pts = [p for p in fixes_by_trace[trace_id] if t0 <= p[0] <= t1]
            key = f"tr_{sa.segment_id}_{sb.segment_id}"
            out.append(dict(
                offmap_id=det_id_py(f"{key}:{trace_id}:{t0}"),
                trace_key=key, trace_id=trace_id,
                start_id=sa.segment_id, end_id=sb.segment_id, t0=t0, t1=t1,
                lons=[p[1] for p in pts], lats=[p[2] for p in pts],
            ))
    return out


def histograms(samples):
    """StatsDataStore.save binning (StatsDataStore.java:140-162) →
    {(segment_id, week, hour, speed_bin): count}."""
    out: dict[tuple, int] = {}
    for s in samples:
        t = s["time"]
        week = int(binning.week_np(np.array([t]))[0])
        hour = int(binning.hour_of_week_np(np.array([t]))[0])
        sbin = int(binning.speed_bin_np(np.array([s["speed"]]))[0])
        key = (s["segment_id"], week, hour, sbin)
        out[key] = out.get(key, 0) + 1
    return out


def tile_assignments(fixes_df):
    """SpatialDataStore.getTile parity (z11 + z18) per fix row."""
    lat = fixes_df["lat"].to_numpy()
    lon = fixes_df["lon"].to_numpy()
    return {
        "tile_x11": tile_x_np(lon, 11),
        "tile_y11": tile_y_np(lat, 11),
        "tile_x18": tile_x_np(lon, 18),
        "tile_y18": tile_y_np(lat, 18),
    }


def viterbi_match_oracle(
    fixes_df, segments, k=4, sigma_m=25.0, trans_adj=1.0, trans_jump=10.0
):
    """Single-threaded referee for plans/hmm.viterbi_match.

    Candidate PAIRING is implemented independently here (dict cell index
    over bbox_tiles_np vs the engine's declarative cover-explode
    equi-join); the Viterbi DP core and the distance function are the
    SHARED pure-numpy functions (functions/viterbi.py) so float decisions
    are bit-identical by construction.  ``segments`` is the network
    table as pandas (segment_id, start/end_node_id, lons, lats).

    Returns a list of (trace_id, seq, ts, segment_id, dist_m) tuples.
    """
    from ..functions.viterbi import Z_HMM as Z
    from ..functions.viterbi import point_segment_dist_m_np, viterbi_decode_np
    fixes_df = fixes_df[np.isfinite(fixes_df["lat"]) & np.isfinite(fixes_df["lon"])]
    cell_index: dict[tuple[int, int], list[int]] = {}
    seg_rows = list(segments.itertuples(index=False))
    for si, s in enumerate(seg_rows):
        ends_lon = [s.lons[0], s.lons[-1]]
        ends_lat = [s.lats[0], s.lats[-1]]
        for txy in bbox_tiles_np(ends_lon, ends_lat, zoom=Z, margin=1):
            cell_index.setdefault(txy, []).append(si)

    out = []
    for trace_id, grp in fixes_df.groupby("trace_id"):
        g = grp[["ts", "lat", "lon"]].drop_duplicates().sort_values(
            ["ts", "lat", "lon"], kind="mergesort"
        ).reset_index(drop=True)
        n_fix = len(g)
        cand_fix, cand_seg, cand_s, cand_e, cand_d = [], [], [], [], []
        for i, r in enumerate(g.itertuples(index=False)):
            tx = int(tile_x_np(np.array([r.lon]), Z)[0])
            ty = int(tile_y_np(np.array([r.lat]), Z)[0])
            sis = sorted(
                {si for si in cell_index.get((tx, ty), [])},
                key=lambda si: seg_rows[si].segment_id,
            )
            scored = []
            for si in sis:
                s = seg_rows[si]
                d = float(point_segment_dist_m_np(
                    np.array([r.lon]), np.array([r.lat]),
                    np.array([s.lons[0]]), np.array([s.lats[0]]),
                    np.array([s.lons[-1]]), np.array([s.lats[-1]]),
                )[0])
                scored.append((d, s.segment_id, si))
            scored.sort()
            kept = sorted(scored[:k], key=lambda t: t[1])  # ascending segment_id
            for d, seg_id, si in kept:
                s = seg_rows[si]
                cand_fix.append(i)
                cand_seg.append(seg_id)
                cand_s.append(s.start_node_id)
                cand_e.append(s.end_node_id)
                cand_d.append(d)
        seg, d = viterbi_decode_np(
            np.array(cand_fix, dtype=np.int64), np.array(cand_seg, dtype=np.int64),
            np.array(cand_s, dtype=np.int64), np.array(cand_e, dtype=np.int64),
            np.array(cand_d, dtype=np.float64), n_fix,
            sigma_m, trans_adj, trans_jump,
        )
        for i in range(n_fix):
            # np.round, NOT Python round: they disagree on half-boundary
            # values and the engine side rounds with np.round
            out.append((int(trace_id), i, int(g["ts"].iloc[i]),
                        int(seg[i]), float(np.round(d[i], 6))))
    return out
