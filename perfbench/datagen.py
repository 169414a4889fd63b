"""Seeded, cached scaled-up ``events`` table for the benchmark.

Built from the repository's sf0.1 ``events`` table the way
``tools/make_sf1.py`` scales it: copy 0 is the base table unchanged, and
the other copies carry disjoint keys. ``event_id`` and ``user_id`` are offset per
copy and ``props.k`` by ``100 * copy`` (as in make_sf1). Unlike make_sf1,
``ts`` is shifted by ``copy`` times the base table's whole-day time span, so
the scaled table is one longer stream whose event time rises with
``event_id``: a watermarked replay in ``event_id`` order drops no row as
late. The seed picks which 90 % of the base rows each copy keeps.

The same seed gives a byte-identical parquet file; another seed gives the
same row count with different rows. ``MANIFEST.json`` records the file's
sha256.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# a micro-batch's cost is mostly fixed (state-store commits, logs, sink
# files), so more copies would lengthen the staging more than the replay
COPIES = 5
# share of the base rows each scaled copy keeps (copy 0 is kept whole)
COPY_KEEP = 0.9
_DAY_US = 86_400_000_000


def _subset(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.sort(rng.choice(n, int(n * COPY_KEEP), replace=False))


def _events(base: pa.Table, rng: np.random.Generator, copies: int) -> pa.Table:
    id_span = pc.max(base["event_id"]).as_py() + 1
    user_span = pc.max(base["user_id"]).as_py() + 1
    ts_us = base["ts"].cast(pa.int64())
    lo, hi = pc.min(ts_us).as_py(), pc.max(ts_us).as_py()
    day_span = (hi // _DAY_US - lo // _DAY_US + 1) * _DAY_US
    k = pc.cast(pc.struct_field(pc.extract_regex(base["props"], r'"k": (?P<k>-?\d+)'), "k"),
                pa.int64())
    parts = [base]
    for i in range(1, copies):
        keep = pa.array(_subset(rng, base.num_rows))
        props = pc.binary_join_element_wise(
            '{"k": ', pc.cast(pc.add(k.take(keep), 100 * i), pa.string()), "}", "")
        parts.append(pa.table({
            "event_id": pc.add(base["event_id"].take(keep), i * id_span),
            "ts": pc.add(ts_us.take(keep), i * day_span).cast(base.schema.field("ts").type),
            "user_id": pc.add(base["user_id"].take(keep), i * user_span),
            "event_type": base["event_type"].take(keep),
            "value": base["value"].take(keep),
            "props": props,
        }, schema=base.schema))
    return pa.concat_tables(parts)


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def generate(base_dir: str, out_dir: str, seed: int) -> dict:
    """Write ``<out_dir>/events.parquet``, scaled ``COPIES`` times from
    ``<base_dir>/events.parquet``, and return its manifest entry."""
    base = pq.read_table(os.path.join(base_dir, "events.parquet")).replace_schema_metadata(None)
    out = _events(base, np.random.default_rng(seed), COPIES)
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(out, path, compression="snappy", row_group_size=1 << 17)
    return {"rows": out.num_rows, "sha256": _sha256(path)}


def params_digest(base_dir: str) -> str:
    """Digest of everything that shapes a generated set besides the seed:
    the base file's size and mtime, the arguments and this module's source.
    A change to any of them gives a new cache directory."""
    st = os.stat(os.path.join(base_dir, "events.parquet"))
    h = hashlib.sha256(f"{COPIES}:{COPY_KEEP}:{st.st_size}:{int(st.st_mtime)}".encode())
    with open(__file__, "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:12]


def cached(cache_root: str, base_dir: str, seed: int) -> tuple[str, dict]:
    """The generated input dir for ``seed``, built on first use. A dir
    counts as built once its ``MANIFEST.json`` exists, so an interrupted
    build is redone."""
    d = os.path.join(cache_root, f"events-{params_digest(base_dir)}-seed{seed}")
    manifest_path = os.path.join(d, "MANIFEST.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return d, json.load(f)
    tmp = f"{d}.partial{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = {"seed": seed, "copies": COPIES, "base": base_dir,
                "events": generate(base_dir, tmp, seed)}
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d, manifest
