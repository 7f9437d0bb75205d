"""Seeded input generators for the benchmark workloads.

Every generator is single-threaded, draws only from a numpy PCG64 stream
derived from (seed, table), and writes one parquet file per table with
pyarrow, so the same seed gives byte-identical files.  Each generator
also writes ``plant.json``: the properties it planted (filter-reject
shares, raster side distribution, arrival mix) and the answers the
correctness checks compare against.

    python3 perfbench/gen.py <satellite|index> <seed> <out_dir>
"""
import datetime as dt
import json
import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The 30-word vocabulary of the fixture `documents` table.
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
DIM = 64


def rng(seed, stream):
    """Independent generator per (seed, table) so tables do not shift
    when another table's draw count changes."""
    return np.random.Generator(np.random.PCG64(
        np.random.SeedSequence([int(seed), zlib.crc32(stream.encode())])))


def write(out_dir, name, columns, schema):
    table = pa.Table.from_pydict(columns, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy", use_dictionary=True)


# ------------------------------------------------------------ corpus

def corpus_tables(out_dir, seed, n_events=1000, n_docs=500, n_vecs=500):
    """The `events`, `documents` and `embeddings` tables `IndexBuild.buildAll`
    reads, in the schema and value domains of the repository's fixtures
    (FIXTURES.md §A). Returns the document texts and the embedding matrix."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng(seed, "events")
    gaps = r.exponential(30 * 86400.0 / n_events, n_events)
    secs = np.minimum(np.cumsum(gaps), 30 * 86400.0 - 1.0)
    t0 = dt.datetime(2024, 1, 1)
    write(out_dir, "events", {
        "event_id": list(range(n_events)),
        "ts": [t0 + dt.timedelta(microseconds=int(s * 1e6)) for s in secs],
        "user_id": r.integers(0, max(10, n_events // 60), n_events).tolist(),
        "event_type": [EVENT_TYPES[e] for e in r.integers(0, 5, n_events)],
        "value": np.round(r.exponential(50.0, n_events), 2).tolist(),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)]},
        pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                   ("user_id", pa.int64()), ("event_type", pa.string()),
                   ("value", pa.float64()), ("props", pa.string())]))

    r = rng(seed, "documents")
    texts = [" ".join(VOCAB[w] for w in r.integers(0, len(VOCAB), n))
             for n in r.integers(10, 101, n_docs)]
    # a few exact duplicates, as a crawled corpus has
    for k in range(max(1, n_docs // 600)):
        a, b = r.integers(0, n_docs, 2)
        texts[b] = texts[a]
    write(out_dir, "documents", {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": [LANGS[x] for x in r.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts]},
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())]))

    r = rng(seed, "embeddings")
    vecs = clustered(r, n_vecs).astype(np.float32)
    write(out_dir, "embeddings", {
        "vec_id": list(range(n_vecs)),
        "embedding": [v.tolist() for v in vecs],
        "label": r.integers(0, 10, n_vecs).tolist()},
        pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]))
    return texts, vecs


# Eight orthogonal cluster centres (disjoint 8-dim blocks of equal sign).
N_CLUSTERS = 8
CLUSTER_NOISE = 0.03


def centre(j):
    c = np.zeros(DIM)
    c[j * 8:(j + 1) * 8] = 1.0
    return c / np.linalg.norm(c)


def clustered(r, n):
    """Unit vectors in 8 tight, equal, orthogonal clusters; vector i is in
    cluster i % 8, so the first 8 ids seed distinct clusters and no cell
    outgrows the build's 9n/8k cap."""
    out = np.empty((n, DIM))
    for i in range(n):
        v = centre(i % N_CLUSTERS) + r.standard_normal(DIM) * CLUSTER_NOISE
        out[i] = v / np.linalg.norm(v)
    return out


def novel(r, j):
    """A unit vector nearest to centre j but far from its tight cluster:
    0.25 along the centre plus an offset with zero sum inside every
    block, so it has no component along any other centre."""
    u = r.standard_normal(DIM)
    for b in range(N_CLUSTERS):
        u[b * 8:(b + 1) * 8] -= u[b * 8:(b + 1) * 8].mean()
    u /= np.linalg.norm(u)
    return 0.25 * centre(j) + np.sqrt(1 - 0.25 ** 2) * u


# ------------------------------------------------------- satellite_daily

N_BODIES = 1400          # 1150 under the 900 km² limit, 250 over it
N_UNDER = 1150
TOP_K = 1100             # SatellitePipeline.WaterbodyLimit
DAYS = 4
NEW_PER_DAY = 24
RUN_DATE0 = dt.date(2024, 6, 10)
LOOKBACK = 30
CUT = 5 / 8              # the geometry covers the left 5/8 of each footprint
WHITE = (231, 229, 226)  # min >= 153 and spread <= 25: a white pixel
DATASETS = [("COPERNICUS/S2_SR", 20.0), ("LANDSAT/LC08", None)]


def day_sides(r, n):
    """Raster sides of one day's n images: mostly 16-64, three medium, one
    at the 256 cap (multiples of 8 so the geometry cut falls on a column
    boundary). The multiset is the same for every day and seed, only its
    order varies, so every run carries the same pixel work."""
    rest = [96, 128, 160, 256]
    small = [16 + 8 * (k % 7) for k in range(n - len(rest))]
    out = small + rest
    return [out[i] for i in r.permutation(n)]


def ring(x0, x1, y0, y1, n_vertices, r):
    """Rectangle ring [lon, lat, z] with its edges subdivided so it has
    `n_vertices` vertices (tens to hundreds)."""
    per = max(1, n_vertices // 4)
    pts = []
    for k in range(per):
        pts.append((x0 + (x1 - x0) * k / per, y0))
    for k in range(per):
        pts.append((x1, y0 + (y1 - y0) * k / per))
    for k in range(per):
        pts.append((x1 - (x1 - x0) * k / per, y1))
    for k in range(per):
        pts.append((x0, y1 - (y1 - y0) * k / per))
    return [[float(x), float(y), float(round(r.uniform(0, 300), 1))] for x, y in pts]


def expected_stats(h, w, white_rows, water):
    """Channel averages and white_fraction of the clipped cube: the kept
    columns are identical, so sums and counts are exact integers."""
    keep = int(w * CUT)
    out = {}
    for name, k in (("red_average", 0), ("green_average", 1), ("blue_average", 2)):
        s = keep * (white_rows * WHITE[k] + (h - white_rows) * water[k])
        out[name] = s / (keep * h)
    out["white_fraction"] = (keep * white_rows) / (keep * h)
    return out


def gen_satellite(seed, out_dir, days=DAYS):
    os.makedirs(out_dir, exist_ok=True)
    r = rng(seed, "satellite")
    # water bodies on a 1-degree grid: every footprint holds one centre
    ids = np.arange(1, N_BODIES + 1)
    order = r.permutation(N_BODIES)
    areas = np.empty(N_BODIES)
    areas[order[:N_UNDER]] = np.round(r.uniform(1.0, 899.0, N_UNDER), 3)
    areas[order[N_UNDER:]] = np.round(r.uniform(901.0, 5000.0, N_BODIES - N_UNDER), 3)
    under = np.where(areas < 900.0)[0]
    ranked = under[np.lexsort((ids[under], -areas[under]))]
    discovered = set(int(ids[i]) for i in ranked[:TOP_K])
    lon = np.array([-120.0 + (i % 50) + 0.5 for i in range(N_BODIES)])
    lat = np.array([10.0 + (i // 50) + 0.5 for i in range(N_BODIES)])
    half = np.round(r.uniform(0.05, 0.3, N_BODIES), 4)
    write(out_dir, "water_bodies", {
        "id": ids.tolist(), "areasqkm": areas.tolist(),
        "min_longitude": (lon - half).tolist(), "max_longitude": (lon + half).tolist(),
        "min_latitude": (lat - half).tolist(), "max_latitude": (lat + half).tolist(),
        "latitude": lat.tolist(), "longitude": lon.tolist()},
        pa.schema([("id", pa.int64()), ("areasqkm", pa.float64()),
                   ("min_longitude", pa.float64()), ("max_longitude", pa.float64()),
                   ("min_latitude", pa.float64()), ("max_latitude", pa.float64()),
                   ("latitude", pa.float64()), ("longitude", pa.float64())]))

    # footprint of every image of body i: lon ± 0.4, lat ± 0.4
    geoms, n_vertices, n_multi = [], [], 0
    for i in range(N_BODIES):
        fx0, fx1 = lon[i] - 0.4, lon[i] + 0.4
        nv = int(r.integers(4, 51)) * 4
        polys = [ring(fx0 - 0.05, fx0 + (fx1 - fx0) * CUT, lat[i] - 0.45, lat[i] + 0.45, nv, r)]
        if r.random() < 0.3:  # a second polygon outside the footprint
            polys.append(ring(lon[i] - 0.2, lon[i] + 0.2, lat[i] + 0.42, lat[i] + 0.48,
                              int(r.integers(4, 16)) * 4, r))
            n_multi += 1
        n_vertices.append(sum(len(p) for p in polys))
        geoms.append(polys)
    write(out_dir, "water_body_geometries", {"id": ids.tolist(), "geometry": geoms},
          pa.schema([("id", pa.int64()),
                     ("geometry", pa.list_(pa.list_(pa.list_(pa.float64()))))]))

    write(out_dir, "configs", {
        "dataset_name": [d for d, _ in DATASETS], "cloud_max": [c for _, c in DATASETS]},
        pa.schema([("dataset_name", pa.string()), ("cloud_max", pa.float64())]))

    run_dates = [RUN_DATE0 + dt.timedelta(days=d) for d in range(days)]
    cat = {k: [] for k in ("ee_id", "dataset", "captured_ts_millis", "footprint_min_lon",
                           "footprint_max_lon", "footprint_min_lat", "footprint_max_lat",
                           "properties")}
    sink = {k: [] for k in ("waterbody_id", "captured_ts", "ee_id", "satellite_dataset",
                            "properties", "filename", "thumbnail_filename", "red_average",
                            "green_average", "blue_average", "white_fraction")}
    rasters = {"ee_id": [], "TCI_R": [], "TCI_G": [], "TCI_B": []}
    kinds = {}
    expect = {d.isoformat(): [] for d in run_dates}
    in_window = {d.isoformat(): 0 for d in run_dates}
    used_ts = set()
    disc_list = sorted(discovered)
    # selected images clip against 100-140 vertices, so the kernel work
    # per image does not swing with which body an image was drawn for
    clip_bodies = [b for b in disc_list if 100 <= n_vertices[b - 1] <= 140]
    others = [int(b) for b in ids if int(b) not in discovered]
    seq = [0]

    def image(kind, body, day, dataset, cloud, shift=False):
        i = body - 1
        while True:
            ms = (dt.datetime.combine(day, dt.time()) - dt.datetime(1970, 1, 1)) \
                // dt.timedelta(milliseconds=1) + int(r.integers(0, 86400)) * 1000
            if (body, ms) not in used_ts:
                break
        used_ts.add((body, ms))
        seq[0] += 1
        ee = f"{dataset.split('/')[0][:2]}_{seq[0]:06d}_{body}"
        dx = 0.5 if shift else 0.0  # F1: footprint lies between grid centres
        cat["ee_id"].append(ee)
        cat["dataset"].append(dataset)
        cat["captured_ts_millis"].append(ms)
        cat["footprint_min_lon"].append(float(lon[i] - 0.4 + dx))
        cat["footprint_max_lon"].append(float(lon[i] + 0.4 + dx))
        cat["footprint_min_lat"].append(float(lat[i] - 0.4))
        cat["footprint_max_lat"].append(float(lat[i] + 0.4))
        cat["properties"].append([("CLOUDY_PIXEL_PERCENTAGE", f"{cloud:.1f}"),
                                  ("SPACECRAFT_NAME", dataset.split("/")[1])])
        kinds[kind] = kinds.get(kind, 0) + 1
        for d in run_dates:
            start = d - dt.timedelta(days=LOOKBACK)
            if start <= day < d:
                in_window[d.isoformat()] += 1
        return ee, ms

    def pick_dataset():
        return DATASETS[int(r.integers(0, 2))][0]

    def clear_cloud(dataset):
        return float(r.uniform(0, 19.5)) if dataset == DATASETS[0][0] else float(r.uniform(0, 90))

    sides = []
    for d in run_dates:
        day = d - dt.timedelta(days=1)
        for h in day_sides(r, NEW_PER_DAY):  # selectable: new on run date d
            w = h
            body = clip_bodies[int(r.integers(0, len(clip_bodies)))]
            ds = pick_dataset()
            ee, ms = image("selected", body, day, ds, clear_cloud(ds))
            sides.append(h)
            white_rows = int(r.integers(0, h + 1))
            water = (int(r.integers(5, 60)), int(r.integers(40, 120)), int(r.integers(100, 220)))
            planes = []
            for k in range(3):
                planes.append([[WHITE[k]] * w] * white_rows + [[water[k]] * w] * (h - white_rows))
            rasters["ee_id"].append(ee)
            rasters["TCI_R"].append(planes[0])
            rasters["TCI_G"].append(planes[1])
            rasters["TCI_B"].append(planes[2])
            row = {"ee_id": ee, "waterbody_id": body, "height": h, "width": w}
            row.update(expected_stats(h, w, white_rows, water))
            expect[d.isoformat()].append(row)
        for _ in range(6):  # F1: footprint misses every centre
            ds = pick_dataset()
            image("f1_footprint", disc_list[int(r.integers(0, len(disc_list)))], day, ds,
                  clear_cloud(ds), shift=True)
        for _ in range(6):  # F3: cloudy on the cloud-filtered dataset
            image("f3_cloudy", disc_list[int(r.integers(0, len(disc_list)))], day,
                  DATASETS[0][0], float(r.uniform(20.0, 95.0)))
        for _ in range(6):  # not discovered: over the area limit or outside top-K
            ds = pick_dataset()
            image("not_discovered", others[int(r.integers(0, len(others)))], day, ds,
                  clear_cloud(ds))
    # F2: captured before every lookback window, or after every run date
    for _ in range(120):
        ds = pick_dataset()
        old = run_dates[0] - dt.timedelta(days=LOOKBACK + 1 + int(r.integers(0, 60)))
        image("f2_window", disc_list[int(r.integers(0, len(disc_list)))], old, ds, clear_cloud(ds))
    for _ in range(30):
        ds = pick_dataset()
        fut = run_dates[-1] + dt.timedelta(days=int(r.integers(0, 5)))
        image("f2_window", disc_list[int(r.integers(0, len(disc_list)))], fut, ds, clear_cloud(ds))
    # F4: the 30-day backlog an earlier run already ingested (in the sink)
    for _ in range(900):
        body = disc_list[int(r.integers(0, len(disc_list)))]
        ds = pick_dataset()
        back = run_dates[0] - dt.timedelta(days=2 + int(r.integers(0, LOOKBACK - 2)))
        ee, ms = image("f4_in_sink", body, back, ds, clear_cloud(ds))
        sink["waterbody_id"].append(body)
        sink["captured_ts"].append(ms * 1000)
        sink["ee_id"].append(ee)
        sink["satellite_dataset"].append(ds)
        sink["properties"].append("{}")
        sink["filename"].append(f"{ee}/{body}.tif")
        sink["thumbnail_filename"].append(f"{ee}/{body}_thumbnail.png")
        for c in ("red_average", "green_average", "blue_average", "white_fraction"):
            sink[c].append(0.5)

    # catalog rows in a seeded shuffle, not grouped by kind
    perm = r.permutation(len(cat["ee_id"])).tolist()
    write(out_dir, "image_catalog", {k: [v[p] for p in perm] for k, v in cat.items()},
          pa.schema([("ee_id", pa.string()), ("dataset", pa.string()),
                     ("captured_ts_millis", pa.int64()),
                     ("footprint_min_lon", pa.float64()), ("footprint_max_lon", pa.float64()),
                     ("footprint_min_lat", pa.float64()), ("footprint_max_lat", pa.float64()),
                     ("properties", pa.map_(pa.string(), pa.string()))]))
    plane = pa.list_(pa.list_(pa.int32()))
    write(out_dir, "rasters", rasters,
          pa.schema([("ee_id", pa.string()), ("TCI_R", plane), ("TCI_G", plane),
                     ("TCI_B", plane)]))
    os.makedirs(os.path.join(out_dir, "sink0"), exist_ok=True)
    write(os.path.join(out_dir, "sink0"), "part-00000-seed", sink,
          pa.schema([("waterbody_id", pa.int64()), ("captured_ts", pa.timestamp("us", tz="UTC")),
                     ("ee_id", pa.string()), ("satellite_dataset", pa.string()),
                     ("properties", pa.string()), ("filename", pa.string()),
                     ("thumbnail_filename", pa.string()), ("red_average", pa.float64()),
                     ("green_average", pa.float64()), ("blue_average", pa.float64()),
                     ("white_fraction", pa.float64())]))
    total = len(cat["ee_id"])
    plant = {
        "workload": "satellite_daily", "seed": int(seed),
        "run_dates": [d.isoformat() for d in run_dates],
        "catalog_rows": total,
        "reject_share": {k: round(v / total, 4) for k, v in sorted(kinds.items())},
        "bodies": N_BODIES, "bodies_under_limit": N_UNDER, "discovered": len(discovered),
        "multi_polygon_bodies": n_multi,
        "vertices": {"min": min(n_vertices), "max": max(n_vertices),
                     "median": float(np.median(n_vertices))},
        "raster_sides": {"min": min(sides), "median": float(np.median(sides)),
                         "max": max(sides), "share_ge_224": round(sum(s >= 224 for s in sides) / len(sides), 4)},
        "megapixels": round(sum(s * s for s in sides) / 1e6, 4),
        "in_window_rows": in_window,
        "sink_rows_at_start": len(sink["ee_id"]),
        "expected": expect,
    }
    with open(os.path.join(out_dir, "plant.json"), "w") as f:
        json.dump(plant, f, indent=1, sort_keys=True)
    return plant


# ------------------------------------------------------- index_lifecycle

BATCHES = 3
ARRIVAL_ID0 = 1_000_000
# squared distance every fresh vector keeps from all known ones: above
# Clustering.PruneT (1.3e12 in 2^-20 fixed point = 1.18) with a margin
FRESH_MIN_D2 = 1.3


def shingles(text):
    w = text.split(" ")
    return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}


def jaccard(a, b):
    return len(a & b) / max(1, len(a | b))


def gen_index(seed, out_dir, batches=BATCHES):
    os.makedirs(out_dir, exist_ok=True)
    texts, vecs = corpus_tables(out_dir, seed)
    r = rng(seed, "arrivals")
    corpus_sh = [shingles(t) for t in texts]
    known_vecs = [v.astype(np.float64) for v in vecs]
    docs = {"batch": [], "doc_id": [], "text": []}
    vec_rows = {"batch": [], "vec_id": [], "embedding": []}
    plant = {"workload": "index_lifecycle", "seed": int(seed), "batches": []}
    next_id = [ARRIVAL_ID0]
    admitted_docs, admitted_vecs = [], []

    def new_id():
        next_id[0] += 1
        return next_id[0]

    def fresh_text():
        while True:
            t = " ".join(VOCAB[w] for w in r.integers(0, len(VOCAB), int(r.integers(30, 80))))
            sh = shingles(t)
            if all(jaccard(sh, c) < 0.5 for c in corpus_sh):
                corpus_sh.append(sh)
                return t

    def fresh_vec():
        while True:
            v = novel(r, int(r.integers(0, N_CLUSTERS))).astype(np.float32).astype(np.float64)
            if min(float(((v - k) ** 2).sum()) for k in known_vecs) > FRESH_MIN_D2:
                known_vecs.append(v)
                return v

    long_docs = [i for i, t in enumerate(texts) if len(t.split(" ")) >= 45 and texts.count(t) == 1]
    for b in range(batches):
        mix = {"docs": {}, "vectors": {}}

        def add_doc(kind, doc_id, text):
            docs["batch"].append(b)
            docs["doc_id"].append(doc_id)
            docs["text"].append(text)
            mix["docs"][kind] = mix["docs"].get(kind, 0) + 1

        def add_vec(kind, vec_id, v):
            vec_rows["batch"].append(b)
            vec_rows["vec_id"].append(vec_id)
            vec_rows["embedding"].append([float(x) for x in np.asarray(v, dtype=np.float32)])
            mix["vectors"][kind] = mix["vectors"].get(kind, 0) + 1

        fresh_docs = []
        for _ in range(6):
            i, t = new_id(), fresh_text()
            add_doc("fresh", i, t)
            fresh_docs.append((i, t))
        for _ in range(2):
            add_doc("exact_copy_of_corpus", new_id(), texts[int(r.choice(long_docs))])
        for _ in range(3):  # one word changed at the end: Jaccard >= 0.94
            words = texts[int(r.choice(long_docs))].split(" ")
            words[-1] = "dup" if words[-1] != "dup" else "agg"
            add_doc("near_dup_of_corpus", new_id(), " ".join(words))
        add_doc("too_short", new_id(), "a short one")
        for i, t in admitted_docs[-2:]:
            add_doc("replay_of_earlier_batch", i, t)
        fresh_vecs = []
        for _ in range(6):
            i, v = new_id(), fresh_vec()
            add_vec("fresh", i, v)
            fresh_vecs.append((i, v))
        for _ in range(2):
            add_vec("replay_of_corpus_id", int(r.integers(0, len(vecs))),
                    vecs[int(r.integers(0, len(vecs)))])
        for _ in range(3):
            base = vecs[int(r.integers(0, len(vecs)))].astype(np.float64)
            v = base + r.standard_normal(DIM) * 0.002
            add_vec("near_dup_of_corpus", new_id(), v / np.linalg.norm(v))
        for i, v in admitted_vecs[-2:]:
            add_vec("replay_of_earlier_batch", i, v)
        admitted_docs.extend(fresh_docs)
        admitted_vecs.extend(fresh_vecs)
        plant["batches"].append({
            "mix": mix,
            "docs_admitted": len(fresh_docs),
            "docs_rejected": sum(mix["docs"].values()) - len(fresh_docs),
            "vectors_admitted": len(fresh_vecs),
            "vectors_rejected": sum(mix["vectors"].values()) - len(fresh_vecs),
            # visibility probes: after this batch, the stored indexes serve these
            "probe_doc": fresh_docs[0][0], "probe_vec": fresh_vecs[0][0],
        })
    write(out_dir, "arrival_docs", docs,
          pa.schema([("batch", pa.int32()), ("doc_id", pa.int64()), ("text", pa.string())]))
    write(out_dir, "arrival_vectors", vec_rows,
          pa.schema([("batch", pa.int32()), ("vec_id", pa.int64()),
                     ("embedding", pa.list_(pa.float32()))]))
    # the fixed serve set: 8 corpus documents as retrieval queries
    plant["serve_queries"] = [int(i) for i in sorted(r.choice(len(texts), 8, replace=False))]
    with open(os.path.join(out_dir, "plant.json"), "w") as f:
        json.dump(plant, f, indent=1, sort_keys=True)
    return plant


GENERATORS = {"satellite": gen_satellite, "index": gen_index}

if __name__ == "__main__":
    GENERATORS[sys.argv[1]](int(sys.argv[2]), sys.argv[3])
