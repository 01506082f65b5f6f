"""The benchmark workloads.

Each workload drives the program only through its public entry points
and checks every run's output against expectations computed when the
fixtures were generated. A workload object holds its inputs; ``run``
performs one timed run and returns its timings plus the checked/failed
counts; ``replay`` (traced runs only) repeats the executor-side kernel
sequence single-threaded over the same inputs to time each layer.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from itertools import product

import numpy as np

import fixtures
from fixtures import CHUNK, SHARD
from oracle import HEADLINE, result_hash

FACTOR = (2, 2, 2)


def _mb(nbytes: float, seconds: float) -> float:
    return nbytes / 1e6 / seconds if seconds > 0 else 0.0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _shard_sums(batches):
    """Executor side of the read phase: voxel sum of every shard payload."""
    import pandas as pd

    for pdf in batches:
        yield pd.DataFrame(
            {
                "iz": pdf["iz"],
                "iy": pdf["iy"],
                "ix": pdf["ix"],
                "n": pdf["payload"].map(len),
                "total": [
                    int(np.frombuffer(p, dtype="<u2").sum(dtype=np.uint64))
                    for p in pdf["payload"]
                ],
            }
        )


class _Replay:
    """Single-threaded replay of the executor kernels with one span per
    call; accumulates bytes per layer for the throughput metrics."""

    def __init__(self, tracer, store: str):
        self.tracer = tracer
        self.store = store
        self.bytes = dict.fromkeys(
            ("read", "reduce", "encode_in", "encode_out", "get", "decode"), 0
        )
        shutil.rmtree(store, ignore_errors=True)

    def read(self, layer: str, src, box) -> np.ndarray:
        with self.tracer.span(layer):
            block = src.read_block(0, *box)
        self.bytes["read"] += block.nbytes
        return block

    def encode_put(self, block: np.ndarray, spec, level: int, idx) -> None:
        from aind_exaspim_data_transformation_spark.zarrio.format import (
            encode_shard,
            write_shard_file,
        )

        if block.shape != tuple(spec.shard_shape[2:]):
            raise ValueError(f"replay block {block.shape} is not a full shard")
        with self.tracer.span("format.encode_shard"):
            blob = encode_shard(block[None, None], spec)
        with self.tracer.span("kvstore.put"):
            write_shard_file(self.store, level, (0, 0, *idx), blob)
        self.bytes["encode_in"] += block.nbytes
        self.bytes["encode_out"] += len(blob)

    def get_decode(self, specs: dict) -> None:
        from aind_exaspim_data_transformation_spark.zarrio.format import (
            decode_shard,
            shard_path,
        )
        from aind_exaspim_data_transformation_spark.zarrio.kvstore import kv_get

        for level, spec in specs.items():
            for idx in product(*(range(g) for g in spec.shard_grid)):
                with self.tracer.span("kvstore.get"):
                    blob = kv_get(shard_path(self.store, level, idx))
                with self.tracer.span("format.decode_shard"):
                    out = decode_shard(blob, spec)
                self.bytes["get"] += len(blob)
                self.bytes["decode"] += out.nbytes

    def layers(self, read_layer: str, conversion_s: float, cores: int) -> dict:
        t = self.tracer.totals()
        sec = {k: v[0] for k, v in t.items()}
        b = self.bytes
        kernel_s = sum(
            sec.get(k, 0.0)
            for k in (read_layer, "downsample.downsample_block",
                      "format.encode_shard", "kvstore.put")
        )
        out = {
            f"{read_layer.rsplit('.', 1)[0]}.read_s": sec.get(read_layer, 0.0),
            f"{read_layer.rsplit('.', 1)[0]}.read_mbps": _mb(
                b["read"], sec.get(read_layer, 0.0)
            ),
            "downsample.s": sec.get("downsample.downsample_block", 0.0),
            "downsample.mean_mbps": _mb(
                b["reduce"], sec.get("downsample.downsample_block", 0.0)
            ),
            "format.encode_s": sec.get("format.encode_shard", 0.0),
            "format.encode_mbps": _mb(
                b["encode_in"], sec.get("format.encode_shard", 0.0)
            ),
            "format.encode_calls": t.get("format.encode_shard", (0, 0))[1],
            "format.stored_ratio": b["encode_in"] / b["encode_out"],
            "format.decode_s": sec.get("format.decode_shard", 0.0),
            "format.decode_mbps": _mb(
                b["decode"], sec.get("format.decode_shard", 0.0)
            ),
            "kvstore.put_s": sec.get("kvstore.put", 0.0),
            "kvstore.put_mbps": _mb(b["encode_out"], sec.get("kvstore.put", 0.0)),
            "kvstore.get_s": sec.get("kvstore.get", 0.0),
            "kvstore.get_mbps": _mb(b["get"], sec.get("kvstore.get", 0.0)),
            "pipeline.busy_frac": kernel_s / (conversion_s * cores),
        }
        shutil.rmtree(self.store, ignore_errors=True)
        return out


class ImsPyramid:
    """job.run_job over seeded shot-noise .ims tiles: HDF5 chunk decode,
    the mean-downsample kernel and the fused-cascade shuffle."""

    name = "ims_pyramid"

    def __init__(self, root: str, work: str, seed: int, cores: int):
        self.work, self.cores = work, cores
        self.dir, self.manifest = fixtures.ims_tiles(seed, cores)
        self.tiles_dir = os.path.join(self.dir, "tiles")
        self.out = os.path.join(work, "out_ims")
        self.src_bytes = self.manifest["nbytes"]

    def settings(self):
        from aind_exaspim_data_transformation_spark.job import TileJobSettings

        return TileJobSettings(
            input_source=self.tiles_dir,
            output_location=self.out,
            partition_mode="shard",
            translate_pyramid=False,
            downsample_levels=fixtures.IMS_LEVELS,
            downsample_mode="mean",
            codec="zstd",
            codec_level=3,
            chunk_shape=CHUNK,
            shard_shape=SHARD,
        )

    def _store(self, tile: dict) -> str:
        return os.path.join(self.out, tile["name"].removesuffix(".ims") + ".zarr")

    def run(self, spark, work, tracer, tag: str) -> dict:
        from aind_exaspim_data_transformation_spark.job import run_job

        shutil.rmtree(self.out, ignore_errors=True)
        with work.group(tag) as gid, tracer.span("pipeline.run_job"):
            t0 = time.monotonic()
            resp = run_job(spark, self.settings())
            wall = time.monotonic() - t0
        counts = work.counts(gid)
        stats = resp.data["stats"] if resp.status_code == 200 else {}
        errors = (stats.get("n_errors") or 0) + stats.get("n_quarantined_tiles", 0)
        with tracer.span("bench.check"):
            checked, bad = self.check()
        return {
            "run_s": wall,
            "write_s": wall,
            "stored_bytes": _dir_bytes(self.out),
            "attempted": checked + counts["tasks"],
            "failed": bad + errors + counts["failed"],
            "spark": counts,
            "stats": stats,
        }

    def check(self) -> tuple[int, int]:
        """Read every shard of every level of every tile back through the
        format layer and compare it, voxel for voxel via a digest, with the
        reference mean pyramid. Returns (shards checked, shards wrong)."""
        from aind_exaspim_data_transformation_spark.zarrio.format import (
            decode_shard,
            read_array_metadata,
            shard_path,
        )
        from aind_exaspim_data_transformation_spark.zarrio.kvstore import kv_get

        checked = bad = 0
        for tile in self.manifest["tiles"]:
            store = self._store(tile)
            for lvl, exp in tile["levels"].items():
                spec = read_array_metadata(store, int(lvl))
                shard = spec.shard_shape[2:]
                for idx, sl in fixtures.shard_boxes(tuple(exp["shape"]), shard):
                    checked += 1
                    blob = kv_get(shard_path(store, int(lvl), (0, 0, *idx)))
                    try:
                        arr = decode_shard(blob, spec)
                    except (TypeError, ValueError):  # missing or corrupt shard
                        bad += 1
                        continue
                    valid = arr[0, 0][tuple(slice(0, s.stop - s.start) for s in sl)]
                    bad += fixtures.digest(valid) != exp["digests"][
                        ",".join(map(str, idx))
                    ]
        return checked, bad

    def traced_extras(self, spark, work, tracer) -> dict:
        from aind_exaspim_data_transformation_spark.sources.discovery import (
            discover_tiles,
        )

        with tracer.span("sources.discover_tiles"):
            t0 = time.monotonic()
            discover_tiles(spark, self.tiles_dir).collect()
            return {"sources.discover_s": time.monotonic() - t0}

    def replay(self, tracer, conversion_s: float) -> dict:
        """read_block -> downsample_block -> encode_shard -> write_shard_file
        over the cascade's group boxes, as the fused writer runs them."""
        from aind_exaspim_data_transformation_spark.operators.downsample import (
            downsample_block,
        )
        from aind_exaspim_data_transformation_spark.sources.tensor import (
            open_source,
        )
        from aind_exaspim_data_transformation_spark.zarrio.format import (
            read_array_metadata,
        )
        from aind_exaspim_data_transformation_spark.zarrio.pipeline import (
            cascade_group_multiple,
        )

        rp = _Replay(tracer, os.path.join(self.work, "replay_ims"))
        with tracer.span("replay"):
            for tile in self.manifest["tiles"]:
                store = self._store(tile)
                specs = {
                    int(lvl): read_array_metadata(store, int(lvl))
                    for lvl in tile["levels"]
                }
                gm = cascade_group_multiple(
                    specs, FACTOR, len(specs), self.settings().superchunk_multiple
                )
                shape0 = tuple(tile["levels"]["0"]["shape"])
                group = tuple(g * s for g, s in zip(gm, SHARD))
                reduced = {
                    lvl: np.empty(tuple(tile["levels"][str(lvl)]["shape"]), np.uint16)
                    for lvl in specs
                    if lvl > 0
                }
                src = open_source(os.path.join(self.tiles_dir, tile["name"]))
                for _, box in fixtures.shard_boxes(shape0, group):
                    block = rp.read(
                        "sources.ims.read_block",
                        src,
                        [v for s in box for v in (s.start, s.stop)],
                    )
                    for idx, sl in fixtures.shard_boxes(block.shape, SHARD):
                        gidx = tuple(
                            b.start // s + i for b, s, i in zip(box, SHARD, idx)
                        )
                        rp.encode_put(block[sl], specs[0], 0, gidx)
                    part = block
                    for lvl in sorted(reduced):
                        rp.bytes["reduce"] += part.nbytes
                        with tracer.span("downsample.downsample_block"):
                            part = downsample_block(part, FACTOR, "mean")
                        f = 2**lvl
                        reduced[lvl][
                            tuple(
                                slice(b.start // f, b.start // f + n)
                                for b, n in zip(box, part.shape)
                            )
                        ] = part
                src.close()
                for lvl, arr in reduced.items():
                    shard = specs[lvl].shard_shape[2:]
                    for idx, sl in fixtures.shard_boxes(arr.shape, shard):
                        rp.encode_put(arr[sl], specs[lvl], lvl, idx)
                rp.get_decode(specs)
        return rp.layers("sources.ims.read_block", conversion_s, self.cores)


class ZarrRoundtrip:
    """convert_to_zarr of a memmapped .npy volume (level 0 only: encode
    and write, no HDF5, no downsample), then the zarrshards read back."""

    name = "zarr_roundtrip"

    def __init__(self, root: str, work: str, seed: int, cores: int):
        self.work, self.cores = work, cores
        self.dir, self.manifest = fixtures.npy_volume(seed, cores)
        self.volume = os.path.join(self.dir, "volume")
        self.store = os.path.join(work, "out_vol.zarr")
        self.src_bytes = self.manifest["nbytes"]

    def settings(self):
        from aind_exaspim_data_transformation_spark.config import (
            ConvertJobSettings,
        )

        return ConvertJobSettings(
            input_source=self.volume,
            output_location=self.store,
            translate_pyramid=True,
            codec="zstd",
            codec_level=3,
            chunk_shape=CHUNK,
            shard_shape=SHARD,
        )

    def _reader(self, spark, payload: bool):
        return (
            spark.read.format("zarrshards")
            .option("path", self.store)
            .option("level", "0")
            .option("payload", str(payload).lower())
            .load()
        )

    def run(self, spark, work, tracer, tag: str) -> dict:
        from aind_exaspim_data_transformation_spark.zarrio.pipeline import (
            convert_to_zarr,
        )

        shutil.rmtree(self.store, ignore_errors=True)
        with work.group(f"{tag}:write") as wgid, tracer.span(
            "pipeline.convert_to_zarr"
        ):
            t0 = time.monotonic()
            stats = convert_to_zarr(spark, self.settings())
            write_s = time.monotonic() - t0
        with work.group(f"{tag}:read") as rgid, tracer.span(
            "zarr_datasource.payload_scan"
        ):
            t0 = time.monotonic()
            rows = (
                self._reader(spark, True)
                .select("iz", "iy", "ix", "payload")
                .mapInPandas(_shard_sums, "iz int, iy int, ix int, n long, total long")
                .collect()
            )
            read_s = time.monotonic() - t0
        wc, rc = work.counts(wgid), work.counts(rgid)
        expected = self.manifest["sums"]
        got = {f"{r.iz},{r.iy},{r.ix}": r.total for r in rows}
        bad = sum(got.get(k) != v for k, v in expected.items())
        errors = stats.get("n_errors") or 0
        return {
            "run_s": write_s + read_s,
            "write_s": write_s,
            "read_s": read_s,
            "stored_bytes": _dir_bytes(self.store),
            "attempted": len(expected) + wc["tasks"] + rc["tasks"],
            "failed": bad + errors + wc["failed"] + rc["failed"],
            "spark": wc,
            "read_spark": rc,
            "stats": stats,
        }

    def traced_extras(self, spark, work, tracer) -> dict:
        from aind_exaspim_data_transformation_spark.sources.zarr_datasource import (
            ZarrShardDataSource,
        )

        opts = {"path": self.store, "level": "0", "payload": "true"}
        ds = ZarrShardDataSource(opts)
        with tracer.span("zarr_datasource.partitions"):
            t0 = time.monotonic()
            ds.reader(ds.schema()).partitions()
            parts_s = time.monotonic() - t0
        with work.group("meta_scan"), tracer.span("zarr_datasource.meta_scan"):
            t0 = time.monotonic()
            self._reader(spark, False).count()
            meta_s = time.monotonic() - t0
        return {
            "zarr_datasource.partitions_s": parts_s,
            "zarr_datasource.meta_scan_s": meta_s,
        }

    def replay(self, tracer, conversion_s: float) -> dict:
        """read_block -> encode_shard -> write_shard_file over the
        superchunk boxes the copy writer reads, then kv_get -> decode_shard."""
        from aind_exaspim_data_transformation_spark.sources.tensor import (
            open_source,
        )
        from aind_exaspim_data_transformation_spark.zarrio.format import (
            read_array_metadata,
        )

        rp = _Replay(tracer, os.path.join(self.work, "replay_vol.zarr"))
        spec = read_array_metadata(self.store, 0)
        group = tuple(
            m * s for m, s in zip(self.settings().superchunk_multiple, SHARD)
        )
        with tracer.span("replay"):
            src = open_source(self.volume)
            for _, box in fixtures.shard_boxes(fixtures.NPY_SHAPE, group):
                block = rp.read(
                    "sources.npy.read_block",
                    src,
                    [v for s in box for v in (s.start, s.stop)],
                )
                for idx, sl in fixtures.shard_boxes(block.shape, SHARD):
                    gidx = tuple(b.start // s + i for b, s, i in zip(box, SHARD, idx))
                    rp.encode_put(block[sl], spec, 0, gidx)
            src.close()
            rp.get_decode({0: spec})
        return rp.layers("sources.npy.read_block", conversion_s, self.cores)


class AnalyticsSf01:
    """One pass over the 13 headline queries at sf0.1, in a seeded order;
    every result hash is checked against its DuckDB oracle."""

    name = "analytics_sf01"
    src_bytes = 0

    def __init__(self, root: str, work: str, seed: int, cores: int):
        self.dir, self.manifest = fixtures.analytics_tables(root)
        self.sf_dir = os.path.join(self.dir, "sf")
        self.order = list(HEADLINE)
        random.Random(seed).shuffle(self.order)
        self.per_query: dict[str, list[dict]] = {q: [] for q in HEADLINE}

    def run(self, spark, work, tracer, tag: str) -> dict:
        from aind_exaspim_data_transformation_spark.queries import QUERIES

        total = attempted = failed = 0
        for name in self.order:
            with work.group(f"{tag}:{name}") as gid, tracer.span(f"queries.{name}"):
                t0 = time.monotonic()
                with tracer.span("queries.build"):
                    df = QUERIES[name](spark, self.sf_dir)
                t1 = time.monotonic()
                with tracer.span("queries.exec"):
                    pdf = df.toPandas()
                t2 = time.monotonic()
            counts = work.counts(gid)
            with tracer.span("bench.check"):
                ok = result_hash(pdf) == self.manifest["oracle_hashes"][name]
            self.per_query[name].append(
                {"build_s": t1 - t0, "exec_s": t2 - t1, **counts}
            )
            total += t2 - t0
            attempted += 1 + counts["tasks"]
            failed += (not ok) + counts["failed"]
        return {"run_s": total, "attempted": attempted, "failed": failed}

    def traced_extras(self, spark, work, tracer) -> dict:
        return {}

    def replay(self, tracer, conversion_s: float) -> dict:
        """Per-query layer figures: medians over this run's passes."""
        import statistics

        out = {}
        for name, recs in self.per_query.items():
            for key in ("build_s", "exec_s"):
                out[f"queries.{name}.{key}"] = statistics.median(
                    r[key] for r in recs
                )
            out[f"queries.{name}.spark_tasks"] = recs[-1]["tasks"]
            out[f"queries.{name}.failed_tasks"] = sum(r["failed"] for r in recs)
        out["queries.build_s"] = sum(
            out[f"queries.{q}.build_s"] for q in HEADLINE
        )
        return out


WORKLOADS = {w.name: w for w in (ImsPyramid, ZarrRoundtrip, AnalyticsSf01)}
