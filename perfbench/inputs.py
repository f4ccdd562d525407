"""Seeded benchmark inputs.

``tools/gen_sf.generate`` draws the test-data-shaped tables from a seed, but
reads its categorical domains and the fixed region/nation rows from a
reference data directory.  ``reference.json`` carries exactly those
domains, so the benchmark materializes a reference directory of its own
inside its work directory and never reads data outside the checkout.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, os.path.join(REPO, "tools"))

import gen_sf  # noqa: E402


def _key_cols(rows: list[dict]) -> dict:
    cols = {k: [r[k] for r in rows] for k in rows[0]}
    return {
        k: pa.array(v, pa.int32() if k.endswith("key") else pa.string())
        for k, v in cols.items()
    }


def materialize_reference(out: str) -> str:
    """Write the reference directory gen_sf needs; return its path."""
    with open(os.path.join(HERE, "reference.json")) as fh:
        ref = json.load(fh)
    os.makedirs(out, exist_ok=True)
    for t in ("region", "nation"):
        pq.write_table(pa.table(_key_cols(ref[t])), os.path.join(out, f"{t}.parquet"))
    for table, cols in ref["domains"].items():
        # one column per domain; rows repeat each value by its reference
        # count, and shorter columns cycle so a table stays rectangular
        # without changing the set of distinct values
        expanded = {
            c: [v for v, n in counts.items() for _ in range(n)]
            for c, counts in cols.items()
        }
        width = max(len(v) for v in expanded.values())
        pq.write_table(
            pa.table({
                c: pa.array([v[i % len(v)] for i in range(width)])
                for c, v in expanded.items()
            }),
            os.path.join(out, f"{table}.parquet"),
        )
    return out


def generate(sf: float, out: str, seed: int, ref: str) -> dict:
    """Generate the tables at scale ``sf`` from ``seed`` into ``out`` and
    return a manifest of rows and bytes per table."""
    import contextlib
    import io

    with contextlib.redirect_stdout(io.StringIO()):  # gen_sf prints per table
        gen_sf.generate(sf, out, seed=seed, ref=ref)
    manifest = {}
    for f in sorted(os.listdir(out)):
        if f.endswith(".parquet"):
            p = os.path.join(out, f)
            manifest[f[: -len(".parquet")]] = {
                "rows": pq.ParquetFile(p).metadata.num_rows,
                "bytes": os.path.getsize(p),
            }
    return manifest


def split_sorted(src: str, key: str, parts: int, out_dir: str) -> list[dict]:
    """Sort ``src`` by ``key`` and split it into ``parts`` parquet files
    of near-equal row counts; return each file's path, rows and key range."""
    tbl = pq.read_table(src).sort_by(key)
    os.makedirs(out_dir, exist_ok=True)
    n = tbl.num_rows
    files = []
    for i in range(parts):
        lo, hi = i * n // parts, (i + 1) * n // parts
        piece = tbl.slice(lo, hi - lo)
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(piece, path)
        keys = piece.column(key)
        files.append({
            "path": path,
            "rows": piece.num_rows,
            "min": keys[0].as_py(),
            "max": keys[-1].as_py(),
        })
    return files
