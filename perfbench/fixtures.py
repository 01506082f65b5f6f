"""Deterministic benchmark inputs, generated from the seed and cached.

Every fixture is a pure function of ``(seed, size)``: the same seed gives
byte-identical files. Fixtures live under ``perfbench/.data`` (ignored by
git) keyed by seed and size, so a seed pays generation once per checkout.
The program only ever receives the generated files; the expected results
(per-shard digests and sums) are computed here, independently of the
program's own kernels.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
import subprocess
import sys
from itertools import product

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, ".data")
#: Fixture sets kept per kind; the oldest are evicted past this.
CACHE_KEEP = 10

#: ims_pyramid: 4 tiles of 128 x 256 x 512 uint16 (128 MiB of voxels),
#: stored the way Imaris writes them: 32 x 128 x 128 HDF5 chunks,
#: shuffle + deflate-1.
IMS_TILES = 4
IMS_TILE_SHAPE = (128, 256, 512)
IMS_H5_CHUNKS = (32, 128, 128)
IMS_LEVELS = 3
#: zarr_roundtrip: one 256 x 256 x 512 uint16 volume (64 MiB), generated
#: in slabs of NPY_SLAB planes.
NPY_SHAPE = (256, 256, 512)
NPY_SLAB = 64
#: The Zarr layout both conversion workloads write.
SHARD = (128, 128, 128)
CHUNK = (64, 64, 64)
#: analytics_sf01: tables from tools/gen_testdata.py at a fixed seed.
SF = 0.1
SF_DATA_SEED = 42


def shot_noise(seed: int, index: int, shape: tuple[int, int, int]) -> np.ndarray:
    """Shot-noise microscopy stand-in: sparse bright blobs on a dark
    background with Poisson-matched noise (variance = signal), ~2:1
    compressible like real light-sheet tiles. The blob layout is fixed so
    compressibility does not drift with the seed; the noise is seeded per
    (seed, index)."""
    rng = np.random.default_rng([seed, index])
    two_pi = np.float32(2.0 * np.pi)
    g = [
        0.5 * (1 + np.sin(two_pi * np.arange(n, dtype=np.float32) / period))
        for n, period in zip(shape, (97, 131, 173))
    ]
    blob = g[0][:, None, None] * g[1][None, :, None] * g[2][None, None, :]
    signal = np.float32(100) + np.float32(6000) * np.maximum(
        blob - np.float32(0.5), np.float32(0)
    )
    noisy = signal + rng.standard_normal(shape, dtype=np.float32) * np.sqrt(signal)
    return np.clip(np.rint(noisy), 0, 65535).astype(np.uint16)


def mean_pyramid(level0: np.ndarray, n_levels: int) -> list[np.ndarray]:
    """Reference 2x2x2 mean pyramid, each level from the one above it,
    rounded half to even. Independent of operators.downsample; shapes
    must divide evenly (fixture shapes are chosen so)."""
    levels = [level0]
    for _ in range(1, n_levels):
        a = levels[-1]
        z, y, x = a.shape
        if z % 2 or y % 2 or x % 2:
            raise ValueError(f"fixture shape {a.shape} not divisible by 2")
        m = a.reshape(z // 2, 2, y // 2, 2, x // 2, 2).astype(np.uint32)
        levels.append(np.rint(m.sum(axis=(1, 3, 5)) / 8.0).astype(a.dtype))
    return levels


def shard_boxes(shape: tuple[int, ...], shard: tuple[int, ...]):
    """(grid index, slices) of every shard of a level, edge-clamped."""
    grid = [-(-s // c) for s, c in zip(shape, shard)]
    for idx in product(*(range(g) for g in grid)):
        yield idx, tuple(
            slice(i * c, min((i + 1) * c, s)) for i, c, s in zip(idx, shard, shape)
        )


def clamp_shard(shape: tuple[int, int, int]) -> tuple[int, int, int]:
    """Shard shape of a level: SHARD clamped to the level, rounded down
    to whole chunks (the Zarr layout rule the writer applies)."""
    out = []
    for s, sh, ch in zip(shape, SHARD, CHUNK):
        c = min(ch, s)
        out.append(max((min(sh, s) // c) * c, c))
    return tuple(out)


def digest(block: np.ndarray) -> str:
    return hashlib.blake2b(
        np.ascontiguousarray(block).tobytes(), digest_size=16
    ).hexdigest()


def _evict(kind: str, keep_dir: str) -> None:
    root = os.path.join(DATA_DIR, kind)
    entries = sorted(
        (os.path.getmtime(os.path.join(root, d)), d) for d in os.listdir(root)
    )
    for _, d in entries[:-CACHE_KEEP]:
        path = os.path.join(root, d)
        if path != keep_dir:
            shutil.rmtree(path, ignore_errors=True)


def _cached(kind: str, key: str, build) -> tuple[str, dict]:
    """Build ``kind/key`` once (atomically, via a temp dir) and return
    (dir, manifest)."""
    final = os.path.join(DATA_DIR, kind, key)
    manifest_path = os.path.join(final, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        manifest = build(tmp)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
        _evict(kind, final)
    os.utime(final)
    with open(manifest_path) as f:
        return final, json.load(f)


def _ims_tile(args: tuple[int, int, str]) -> dict:
    """One tile: write the .ims file, return its expected per-shard
    digests at every pyramid level."""
    from aind_exaspim_data_transformation_spark.sources.tensor import (
        write_imaris_file,
    )

    seed, index, path = args
    level0 = shot_noise(seed, index, IMS_TILE_SHAPE)
    write_imaris_file(
        path,
        [level0],
        chunks=IMS_H5_CHUNKS,
        compression="gzip",
        compression_level=1,
        shuffle=True,
    )
    levels = {}
    for lvl, arr in enumerate(mean_pyramid(level0, IMS_LEVELS)):
        levels[str(lvl)] = {
            "shape": list(arr.shape),
            "digests": {
                ",".join(map(str, idx)): digest(arr[sl])
                for idx, sl in shard_boxes(arr.shape, clamp_shard(arr.shape))
            },
        }
    return {"path": path, "nbytes": int(level0.nbytes), "levels": levels}


def ims_tiles(seed: int, workers: int) -> tuple[str, dict]:
    """Directory of seeded .ims tiles + their expected pyramid digests."""
    key = f"s{seed}_{IMS_TILES}x{'x'.join(map(str, IMS_TILE_SHAPE))}"

    def build(tmp: str) -> dict:
        tiles_dir = os.path.join(tmp, "tiles")
        os.makedirs(tiles_dir)
        jobs = [
            (seed, i, os.path.join(tiles_dir, f"tile_{i:03d}.ims"))
            for i in range(IMS_TILES)
        ]
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(max(1, min(workers, IMS_TILES))) as pool:
            tiles = pool.map(_ims_tile, jobs)
            pool.close()
            pool.join()
        for t in tiles:  # store names relative to the (renamed) dir
            t["name"] = os.path.basename(t.pop("path"))
        return {"tiles": tiles, "nbytes": sum(t["nbytes"] for t in tiles)}

    return _cached("ims", key, build)


def _npy_slab(args: tuple[int, int]) -> np.ndarray:
    seed, index = args
    return shot_noise(seed, index, (NPY_SLAB, *NPY_SHAPE[1:]))


def npy_volume(seed: int, workers: int) -> tuple[str, dict]:
    """Seeded .npy volume (level 0 only) + expected per-shard voxel sums."""
    key = f"s{seed}_{'x'.join(map(str, NPY_SHAPE))}"

    def build(tmp: str) -> dict:
        from aind_exaspim_data_transformation_spark.sources.tensor import (
            write_npy_pyramid,
        )

        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(max(1, workers)) as pool:
            slabs = pool.map(
                _npy_slab, [(seed, i) for i in range(NPY_SHAPE[0] // NPY_SLAB)]
            )
            pool.close()
            pool.join()
        vol = np.concatenate(slabs)
        write_npy_pyramid(os.path.join(tmp, "volume"), vol)
        return {
            "nbytes": int(vol.nbytes),
            "sums": {
                ",".join(map(str, idx)): int(vol[sl].sum(dtype=np.uint64))
                for idx, sl in shard_boxes(vol.shape, clamp_shard(vol.shape))
            },
        }

    return _cached("npy", key, build)


def analytics_tables(root: str) -> tuple[str, dict]:
    """sf0.1 tables from the repo's generator at a fixed seed (the query
    order, not the data, depends on the workload seed) plus the DuckDB
    oracle hash of every headline query, computed in a separate process
    so in-process DuckDB cannot slow the Spark timings that follow."""
    key = f"sf{SF}_s{SF_DATA_SEED}"

    def build(tmp: str) -> dict:
        sf_dir = os.path.join(tmp, "sf")
        subprocess.run(
            [
                sys.executable,
                os.path.join(root, "tools", "gen_testdata.py"),
                "--sf", str(SF), "--seed", str(SF_DATA_SEED), "--out", sf_dir,
            ],
            check=True,
            stdout=subprocess.DEVNULL,
        )
        out = os.path.join(tmp, "oracle.json")
        subprocess.run(
            [sys.executable, os.path.join(HERE, "oracle.py"), sf_dir, out],
            check=True,
        )
        with open(out) as f:
            return {"oracle_hashes": json.load(f)}

    return _cached("sf", key, build)
