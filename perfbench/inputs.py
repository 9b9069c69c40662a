"""Seeded, cached benchmark inputs.

Every generated table lives in its own directory under the cache root,
named by kind and parameters, next to a ``fingerprint.json`` holding the
sha256 of its files. An entry is rebuilt when the fingerprint does not
match, so a truncated or edited cache is never read. Generation happens
before any timed region. The engine's generators keep their internal seed
(42); the benchmark seed only picks what is derived from them (polygon-grid
origin, query samples, document subset, crash split).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

FINGERPRINT = "fingerprint.json"


def fingerprint(path: str) -> str:
    """sha256 over the relative names and bytes of every file under ``path``
    (Spark's .crc side files and the fingerprint itself excluded)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            if name == FINGERPRINT or name.endswith(".crc"):
                continue
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``; files that vanish while it walks count 0."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            try:
                size += os.path.getsize(os.path.join(root, name))
            except FileNotFoundError:
                continue
            files += 1
    return size, files


def cached(root: str, key: str, build) -> str:
    """Directory of cache entry ``key``; ``build(tmp_dir)`` fills it on a
    miss or a fingerprint mismatch."""
    path = os.path.join(root, key)
    fp_file = os.path.join(path, FINGERPRINT)
    if os.path.exists(fp_file):
        with open(fp_file) as f:
            if json.load(f)["sha256"] == fingerprint(path):
                return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, FINGERPRINT), "w") as f:
        json.dump({"key": key, "sha256": fingerprint(tmp)}, f)
    os.replace(tmp, path)
    return path


def pages(spark, root: str, n_rows: int) -> str:
    """Pages parquet with two pages per host, so a text dedup halves it."""
    from gdal_spark.sources import pages as P

    def build(tmp):
        (P.pages(spark, n_rows, n_hosts=max(1, n_rows // 2), partitions=8)
         .write.parquet(os.path.join(tmp, "data")))
    return os.path.join(cached(root, f"pages-n{n_rows}", build), "data")


def corpus(spark, root: str, n_docs: int, n_vecs: int) -> tuple[str, str]:
    """(documents, embeddings) parquet paths of a generated corpus."""
    from gdal_spark.sources import corpus as C

    def build(tmp):
        C.write_corpus(spark, tmp, n_docs=n_docs, n_vecs=n_vecs, partitions=8)
    d = cached(root, f"corpus-d{n_docs}-v{n_vecs}", build)
    return (os.path.join(d, "documents.parquet"),
            os.path.join(d, "embeddings.parquet"))


def diamonds(spark, root: str, n: int, origin: tuple[float, float],
             seed: int) -> str:
    """Parquet of an n x n concave diamond grid shifted by ``origin``."""
    def build(tmp):
        diamond_layer(spark, n, origin).coalesce(1).write.parquet(
            os.path.join(tmp, "data"))
    return os.path.join(cached(root, f"diamonds-n{n}-seed{seed}", build),
                        "data")


# uv extent that covers the lon/lat world box once rotated back to x/y
UV_HALF = 266.0


def grid_origin(seed: int, n: int) -> tuple[float, float]:
    """Seeded shift of the diamond grid, within one cell in u and in v."""
    import random
    rng = random.Random(seed)
    step = 2 * UV_HALF / n
    return rng.random() * step, rng.random() * step


def diamond_layer(spark, n: int, origin: tuple[float, float]):
    from gdal_spark.sources import polygons as PG
    du, dv = origin
    return PG.diamond_grid(spark, n, n, -UV_HALF - du, UV_HALF - du,
                           -UV_HALF - dv, UV_HALF - dv, concave=True)
