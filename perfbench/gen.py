"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (seed, GEN_VERSION): the same seed gives
byte-identical files, another seed gives other files. Inputs are written
once per (version, seed) into a cache directory and described by a
manifest (sha256 of every file, and the rows / bytes / cells each workload
consumes), so a result can always name its base.

Run standalone to (re)generate and print the manifest:

    python3 perfbench/gen.py --seed 7 --out .bench_build/perfbench/inputs
"""
import argparse
import hashlib
import json
import os
import shutil
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2

# Sizes are fixed per version and independent of the seed, so every seed
# measures the same amount of work.
EVENTS_ROWS = 20_000
LINEITEM_ROWS = 30_000
USERS = 500
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
CORPUS_BASE_DOCS = 500
CORPUS_DOCS = 1_500
PROBE_DOCS = 400
EMBED_ROWS = 500
EMBED_DIMS = 64
RASTER = {"width": 40, "height": 32, "dates": 4, "bands": ["red", "nir"]}
RASTER_BBOX = (10.0, 45.0, 14.0, 48.2)
STREAM_SHARD_ROWS = 50
STREAM_BACKLOG_SHARDS = 240
STREAM_LIVE_SHARDS = 240
STREAM_SHARD_SPAN_S = 30

VOCAB = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector join customer the cube band pixel tile zarr "
         "tiff cloud river forest field crop water snow urban road season "
         "index mean median sum count reduce apply kernel mask resample "
         "period month week year day night north south east west").split()

T0_EVENTS = np.datetime64("2024-01-01T00:00:00", "us")
T0_STREAM = np.datetime64("2024-06-01T00:00:00", "us")


def _write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _events_table(rng, n, t0, span_us, first_id):
    ts = t0 + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    et = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, n), pa.int64()),
        "event_type": pa.array(et.tolist(), pa.string()),
        "value": pa.array(np.round(rng.gamma(2.0, 40.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })


def _lineitem_table(rng, n):
    days = rng.integers(0, 7 * 365, n).astype("timedelta64[D]")
    ship = (np.datetime64("1992-01-01", "D") + days).astype("datetime64[us]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(1, 60_000, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(float), pa.float64()),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2),
                                    pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]
                                 .tolist(), pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]
                                 .tolist(), pa.string()),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def _edit(rng, words, rate):
    """Word-level edits (substitute / drop / insert) at `rate` per word."""
    out = []
    for w in words:
        r = rng.random()
        if r < rate / 3:
            continue
        if r < 2 * rate / 3:
            out.append(VOCAB[rng.integers(0, len(VOCAB))])
        else:
            out.append(w)
        if rate / 3 * 2 <= r < rate:
            out.append(VOCAB[rng.integers(0, len(VOCAB))])
    return out or words[:1]


def _corpus(rng, n_base, n_total, first_id, hot_share=0.3, hot_clusters=8, base=None):
    """Base documents plus replicas with seeded word-level edits. A
    `hot_share` of the replicas copies one of a few hot base documents,
    which skews the candidate keys the near-dup joins group on. With
    `base` given, the replicas edit those documents (an arriving shard of
    an existing corpus) and `n_base` fresh documents are added."""
    fresh = []
    for _ in range(n_base):
        n = int(rng.integers(20, 90))
        fresh.append([VOCAB[i] for i in rng.integers(0, len(VOCAB), n)])
    docs = [list(b) for b in fresh]
    base = base or fresh
    n_base = len(base)
    while len(docs) < n_total:
        src = (int(rng.integers(0, hot_clusters)) if rng.random() < hot_share
               else int(rng.integers(0, n_base)))
        kind = rng.random()
        if kind < 0.25:
            docs.append(list(base[src]))                    # exact duplicate
        else:
            docs.append(_edit(rng, base[src], float(rng.choice([0.05, 0.15, 0.4]))))
    order = rng.permutation(len(docs))
    texts = [" ".join(docs[i]) for i in order]
    return base, pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(["en", "de", "fr", "zh"])[
            rng.integers(0, 4, len(texts))].tolist(), pa.string()),
        "source": pa.array([f"src{i % 7}" for i in range(len(texts))], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n, dims):
    centers = rng.normal(0, 1, (16, dims))
    lab = rng.integers(0, 16, n)
    v = centers[lab] + rng.normal(0, 0.6, (n, dims))
    dup = rng.random(n) < 0.1                       # near-duplicate vectors
    v[dup] = v[np.maximum(np.arange(n)[dup] - 1, 0)] + rng.normal(0, 0.01, (dup.sum(), dims))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(lab % 10, pa.int32()),
    })


def _dimension_tables(rng):
    """The remaining TPC-H-shaped tables. No workload reads them; they exist
    so the oracle checker can register its full table set."""
    n = 200
    return {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int64()),
                            "r_name": [f"R{i}" for i in range(5)]}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int64()),
                            "n_name": [f"N{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int64())}),
        "customer": pa.table({"c_custkey": pa.array(range(n), pa.int64()),
                              "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int64()),
                              "c_acctbal": np.round(rng.uniform(-999, 9999, n), 2)}),
        "supplier": pa.table({"s_suppkey": pa.array(range(n), pa.int64()),
                              "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int64())}),
        "part": pa.table({"p_partkey": pa.array(range(n), pa.int64()),
                          "p_retailprice": np.round(rng.uniform(900, 2000, n), 2)}),
        "orders": pa.table({"o_orderkey": pa.array(range(n), pa.int64()),
                            "o_custkey": pa.array(rng.integers(0, n, n), pa.int64()),
                            "o_totalprice": np.round(rng.uniform(1e3, 4e5, n), 2),
                            "o_orderdate": pa.array(
                                (np.datetime64("1995-01-01", "D") +
                                 rng.integers(0, 900, n).astype("timedelta64[D]"))
                                .astype("datetime64[us]"), pa.timestamp("us"))}),
    }


def _tiff_bytes(width, height, values):
    """Baseline little-endian float32 GeoTIFF-free TIFF, one strip per 8
    rows, uncompressed; georeferencing comes from the STAC item bbox."""
    rows_per_strip = 8
    strips = [values[r:r + rows_per_strip].astype("<f4").tobytes()
              for r in range(0, height, rows_per_strip)]
    n_tags = 11
    ifd_off = 8
    ifd_len = 2 + n_tags * 12 + 4
    offs_off = ifd_off + ifd_len
    counts_off = offs_off + 4 * len(strips)
    data_off = counts_off + 4 * len(strips)
    offsets, pos = [], data_off
    for s in strips:
        offsets.append(pos)
        pos += len(s)

    def tag(code, typ, count, value):
        return struct.pack("<HHII", code, typ, count, value)
    tags = [
        tag(256, 4, 1, width), tag(257, 4, 1, height), tag(258, 3, 1, 32),
        tag(259, 3, 1, 1), tag(262, 3, 1, 1),
        tag(273, 4, len(strips), offs_off), tag(277, 3, 1, 1),
        tag(278, 4, 1, rows_per_strip),
        tag(279, 4, len(strips), counts_off), tag(284, 3, 1, 1),
        tag(339, 3, 1, 3),
    ]
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += struct.pack("<H", n_tags) + b"".join(tags) + struct.pack("<I", 0)
    out += struct.pack(f"<{len(strips)}I", *offsets)
    out += struct.pack(f"<{len(strips)}I", *[len(s) for s in strips])
    for s in strips:
        out += s
    return bytes(out)


def _raster(rng, root, href_root):
    """A seeded (x, y, t, bands) raster as a static STAC catalog: even dates
    are zarr v2 stores (zlib chunks), odd dates GeoTIFF files. Asset hrefs
    are `href_root`-relative paths, so the catalog's bytes do not depend on
    where the checkout lives (the harness runs from the checkout root)."""
    w, h, nd = RASTER["width"], RASTER["height"], RASTER["dates"]
    os.makedirs(root, exist_ok=True)
    yy, xx = np.mgrid[0:h, 0:w]
    items = []
    for d in range(nd):
        dt = f"2024-{1 + d // 2:02d}-{1 + 14 * (d % 2):02d}T00:00:00Z"
        assets = {}
        for b, band in enumerate(RASTER["bands"]):
            field = (0.3 + 0.2 * b + 0.1 * np.sin((xx + d) / 5.0) *
                     np.cos(yy / 7.0) + rng.normal(0, 0.02, (h, w)))
            field = np.round(field * 1000) / 1000           # float32-exact grid
            name = f"d{d}_{band}"
            if d % 2 == 0:
                store = os.path.join(root, name + ".zarr")
                os.makedirs(store, exist_ok=True)
                ch = 16
                with open(os.path.join(store, ".zarray"), "w") as f:
                    json.dump({"zarr_format": 2, "shape": [h, w], "chunks": [ch, ch],
                               "dtype": "<f8", "compressor": {"id": "zlib", "level": 1},
                               "fill_value": 0.0, "filters": None, "order": "C"},
                              f, sort_keys=True)
                for gr in range((h + ch - 1) // ch):
                    for gc in range((w + ch - 1) // ch):
                        blk = np.zeros((ch, ch))
                        part = field[gr * ch:(gr + 1) * ch, gc * ch:(gc + 1) * ch]
                        blk[:part.shape[0], :part.shape[1]] = part
                        with open(os.path.join(store, f"{gr}.{gc}"), "wb") as f:
                            f.write(zlib.compress(blk.astype("<f8").tobytes(), 1))
                assets[band] = {"href": f"{href_root}/{name}.zarr",
                                "type": "application/vnd+zarr",
                                "eo:bands": [{"name": band}]}
            else:
                path = os.path.join(root, name + ".tif")
                with open(path, "wb") as f:
                    f.write(_tiff_bytes(w, h, field))
                assets[band] = {"href": f"{href_root}/{name}.tif",
                                "type": "image/tiff; application=geotiff",
                                "eo:bands": [{"name": band}]}
        item = {"type": "Feature", "stac_version": "1.0.0", "id": f"item-{d}",
                "bbox": list(RASTER_BBOX),
                "properties": {"datetime": dt,
                               "eo:cloud_cover": int(rng.integers(0, 100))},
                "assets": assets}
        with open(os.path.join(root, f"item-{d}.json"), "w") as f:
            json.dump(item, f, sort_keys=True, indent=1)
        items.append(item["id"])
    with open(os.path.join(root, "catalog.json"), "w") as f:
        json.dump({"type": "Catalog", "stac_version": "1.0.0", "id": "perfbench",
                   "description": "seeded benchmark raster",
                   "links": [{"rel": "item", "href": f"{i}.json"} for i in items]},
                  f, sort_keys=True, indent=1)
    return w * h * nd * len(RASTER["bands"])


def _stream_shards(rng, root):
    os.makedirs(root, exist_ok=True)
    n = STREAM_BACKLOG_SHARDS + STREAM_LIVE_SHARDS
    span = STREAM_SHARD_SPAN_S * 1_000_000
    for i in range(n):
        t = _events_table(rng, STREAM_SHARD_ROWS, T0_STREAM + np.timedelta64(i * span, "us"),
                          span, i * STREAM_SHARD_ROWS)
        _write(t, os.path.join(root, f"shard-{i:05d}.parquet"))
    return n


def _generate(seed, d, final):
    rng = np.random.default_rng([GEN_VERSION, seed])
    tables = os.path.join(d, "tables")
    os.makedirs(tables)
    span = int(np.timedelta64(90, "D") / np.timedelta64(1, "us"))
    _write(_events_table(rng, EVENTS_ROWS, T0_EVENTS, span, 0),
           os.path.join(tables, "events.parquet"))
    _write(_lineitem_table(rng, LINEITEM_ROWS), os.path.join(tables, "lineitem.parquet"))
    base, docs = _corpus(rng, CORPUS_BASE_DOCS, CORPUS_DOCS, 0)
    _write(docs, os.path.join(tables, "documents.parquet"))
    _write(_embeddings(rng, EMBED_ROWS, EMBED_DIMS), os.path.join(tables, "embeddings.parquet"))
    for name, t in _dimension_tables(rng).items():
        _write(t, os.path.join(tables, f"{name}.parquet"))
    # arriving documents for the incremental near-dup probes: fresh ones
    # and edited copies of corpus documents, ids past the corpus range
    _write(_corpus(rng, PROBE_DOCS // 2, PROBE_DOCS, 1_000_000, base=base)[1],
           os.path.join(d, "probe_docs.parquet"))
    cells = _raster(rng, os.path.join(d, "raster"), os.path.join(final, "raster"))
    n_shards = _stream_shards(rng, os.path.join(d, "stream"))
    return cells, n_shards


def _file_manifest(d):
    files = {}
    for dirpath, _, names in sorted(os.walk(d)):
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            rel = os.path.relpath(p, d)
            if rel == "manifest.json":
                continue
            with open(p, "rb") as f:
                files[rel] = hashlib.sha256(f.read()).hexdigest()
    return files


def _tree_hash(files):
    h = hashlib.sha256()
    for k in sorted(files):
        h.update(f"{k}\0{files[k]}\n".encode())
    return h.hexdigest()


def _size(d, *parts):
    p = os.path.join(d, *parts)
    if os.path.isfile(p):
        return os.path.getsize(p)
    return sum(os.path.getsize(os.path.join(a, f)) for a, _, fs in os.walk(p) for f in fs)


def ensure(seed, out_root):
    """Return (input dir, manifest), generating the inputs on first use."""
    d = os.path.join(out_root, f"v{GEN_VERSION}-s{seed}")
    man_path = os.path.join(d, "manifest.json")
    if os.path.isfile(man_path):
        with open(man_path) as f:
            return d, json.load(f)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cells, n_shards = _generate(seed, tmp, d)
    files = _file_manifest(tmp)
    man = {
        "generator_version": GEN_VERSION,
        "seed": seed,
        "tree_sha256": _tree_hash(files),
        "files": files,
        "sizes": {
            "eo_graphs": {"events_rows": EVENTS_ROWS, "lineitem_rows": LINEITEM_ROWS,
                          "raster_cells": cells, "corpus_docs": CORPUS_DOCS,
                          "probe_docs": PROBE_DOCS,
                          "bytes": _size(tmp, "tables", "events.parquet") +
                          _size(tmp, "tables", "lineitem.parquet") + _size(tmp, "raster") +
                          _size(tmp, "tables", "documents.parquet") +
                          _size(tmp, "probe_docs.parquet")},
            "event_stream": {"shards": n_shards, "backlog_shards": STREAM_BACKLOG_SHARDS,
                             "rows_per_shard": STREAM_SHARD_ROWS,
                             "rows": n_shards * STREAM_SHARD_ROWS,
                             "bytes": _size(tmp, "stream")},
        },
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(man, f, sort_keys=True, indent=1)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, man


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    d, man = ensure(a.seed, a.out)
    print(json.dumps({"dir": d, "tree_sha256": man["tree_sha256"], "sizes": man["sizes"]},
                     indent=1))


if __name__ == "__main__":
    main()
