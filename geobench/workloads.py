"""The workloads: the calls each iteration makes, and their checks.

``headline`` and ``point_sample`` are timed on their own; the
``checkpoint_resume`` legs run inside headline's traced run (and alone with
``--workload checkpoint_resume``).

A workload hands the runner a list of ``Leg`` objects per iteration.  A
leg is one call into a public function of a layer module plus the action
that makes Spark do the work; the runner times the call, then runs the
leg's check against the oracle answers outside the timed region.

Traced runs also time prefix plans (``probes``): a plan that ends at a
layer, executed with the ``noop`` sink.  A layer's self time is its
prefix minus the prefix that ends one layer earlier.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

import numpy as np
from pyspark.sql import functions as F

from georaster_spark.constants import DEFAULT_RES
from georaster_spark.functions import cells
from georaster_spark.functions.codecs import pixel_mean
from georaster_spark.operators import georegister as geo
from georaster_spark.operators import pip as pipop
from georaster_spark.operators import sampling
from georaster_spark.plans import checkpoint as ckpt
from georaster_spark.plans.pipeline import zone_image_stats
from georaster_spark.sources import icelite

from inputs import Inputs, row_hash


@dataclass
class Leg:
    name: str  # the layer function called, e.g. "operators.pip.pip_join"
    call: Callable[[], Any]
    check: Callable[[Any], bool]
    after: Callable[[], None] | None = None  # untimed benchmark step (e.g. a simulated kill)


def image_idx(ids) -> np.ndarray:
    """'img00001234' strings -> int64 idx."""
    return np.array([int(s[3:]) for s in ids], dtype=np.int64)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    row_kind = "images"
    own: tuple[str, ...] = ()  # layer prefixes only this workload reaches
    companions: tuple[type, ...] = ()  # run inside this workload's traced run

    def __init__(self, spark, inp: Inputs, work: Path, seed: int):
        self.spark = spark
        self.inp = inp
        self.work = work
        self.seed = seed
        self.ans = inp.answers()
        self.images = spark.read.parquet(inp.path("images"))
        self.zones = spark.read.parquet(inp.path("zones"))
        self.points = spark.read.parquet(inp.path("points"))
        # zones-side bound for pip_join's refine fast path, computed once per
        # run as bench.py's headline does, so no dispatch job runs per leg
        self.max_ring = self.zones.agg(F.max(F.size("ring"))).first()[0]

    @property
    def rows(self) -> int:
        return self.inp.n_points if self.row_kind == "points" else self.inp.n_images

    def legs(self, it: int) -> list[Leg]:
        raise NotImplementedError

    def verify(self) -> list[Leg]:
        """Full-row checks run once per run, outside any timed region."""
        return []

    def cleanup(self, it: int) -> None:
        """Drop what iteration ``it`` wrote (outside the timed region)."""

    def close(self) -> None:
        """Drop everything the workload wrote."""

    def probes(self) -> dict[str, Callable[[], None]]:
        return {}

    def layers(self, probe: dict[str, float], legs: dict[str, dict]) -> dict[str, float]:
        """Per-layer metrics from probe medians (s) and per-leg medians."""
        return {}

    def attributed(self, probe: dict[str, float], legs: dict[str, dict]) -> float:
        """Seconds of one iteration that the per-layer self times account
        for (their sum telescopes to these prefixes)."""
        raise NotImplementedError

    # -- answer checks shared by workloads -------------------------------

    def pairs_ok(self, img: np.ndarray, zone: np.ndarray) -> bool:
        return len(img) == self.ans["n_pairs"] and row_hash(img, zone) == self.ans["pair_hash"]

    def zone_stats_ok(self, rows) -> bool:
        zid = np.array([r["zone_id"] for r in rows], dtype=np.int64)
        n = np.array([r["n_images"] for r in rows], dtype=np.int64)
        avg = np.array([r["avg_tile_mean"] for r in rows], dtype=np.float64)
        return (
            np.array_equal(zid, self.ans["zone_id"])
            and np.array_equal(n, self.ans["zone_n"])
            # both sides round to 6 decimals after summing in a different
            # order, so they may sit one unit of the 6th decimal apart
            and np.allclose(avg, self.ans["zone_avg"], rtol=0, atol=2e-6)
        )


class Headline(Workload):
    """BASELINE.json's three legs: tile assignment, PIP pairs, zone stats."""

    name = "headline"

    def _tiles(self):
        return geo.georegister(self.images.select("image_id", "w", "h"))

    def _pairs(self, tiles):
        return pipop.pip_join(
            tiles, self.zones, x=geo.centroid_x(), y=geo.centroid_y(), max_ring=self.max_ring
        )

    def legs(self, it: int) -> list[Leg]:
        a = self.ans
        return [
            Leg("operators.georegister.tile_assignments",
                lambda: geo.tile_assignments(self._tiles()).count(),
                lambda n: n == a["n_assign"]),
            Leg("operators.pip.pip_join",
                lambda: self._pairs(self._tiles()).count(),
                lambda n: n == a["n_pairs"]),
            Leg("plans.pipeline.zone_image_stats",
                lambda: zone_image_stats(self.images, self.zones, max_ring=self.max_ring).collect(),
                self.zone_stats_ok),
        ]

    def verify(self) -> list[Leg]:
        def assign_rows():
            t = geo.tile_assignments(self._tiles()).toArrow()
            return image_idx(t.column("image_id").to_pylist()), t.column("cell_id").to_numpy()

        def pair_rows():
            t = self._pairs(self._tiles()).select("image_id", "zone_id").toArrow()
            return image_idx(t.column("image_id").to_pylist()), t.column("zone_id").to_numpy()

        a = self.ans
        return [
            Leg("verify.assign_rows", assign_rows,
                lambda r: len(r[0]) == a["n_assign"] and row_hash(*r) == a["assign_hash"]),
            Leg("verify.pair_rows", pair_rows, lambda r: self.pairs_ok(*r)),
        ]

    def probes(self):
        meta = self.images.select("image_id", "w", "h")
        full = lambda: geo.georegister(self.images)  # noqa: E731
        pixel = lambda: full().withColumn(  # noqa: E731
            "tile_mean", pixel_mean(F.col("bytes"), F.col("w"), F.col("h"), F.col("fmt"))
        )
        return {
            "scan_meta": lambda: noop(meta),
            "geo_meta": lambda: noop(geo.georegister(meta)),
            "assign": lambda: noop(geo.tile_assignments(geo.georegister(meta))),
            "pairs": lambda: noop(self._pairs(geo.georegister(meta))),
            "scan_full": lambda: noop(self.images),
            "geo_full": lambda: noop(full()),
            "pixel": lambda: noop(pixel()),
            "pixel_pairs": lambda: noop(self._pairs(pixel())),
            "zone_stats": lambda: noop(zone_image_stats(self.images, self.zones, max_ring=self.max_ring)),
        }

    def attributed(self, p, legs):
        return p["assign"] + p["pairs"] + p["zone_stats"]

    def candidate_rows(self) -> int:
        """Rows of the PIP cell equi-join before the refine predicate."""
        pts = self._tiles().select(
            cells.cell_encode(geo.centroid_x(), geo.centroid_y(), DEFAULT_RES).alias("cell_id")
        )
        return pts.join(F.broadcast(pipop.zone_cells(self.zones)), "cell_id").count()

    def layers(self, p, legs):
        a = self.ans
        zs = legs["plans.pipeline.zone_image_stats"]
        cand = self.candidate_rows()
        py_s = zs["eval.py_run_s"]
        return {
            "sources.scan_s": 2 * p["scan_meta"] + p["scan_full"],
            "georegister.self_s": 2 * (p["geo_meta"] - p["scan_meta"]) + p["geo_full"] - p["scan_full"],
            "cells.assign_self_s": p["assign"] - p["geo_meta"],
            "cells.assign_rows": a["n_assign"],
            "cells.fanout": a["n_assign"] / self.inp.n_images,
            "pip.pairs_self_s": p["pairs"] - p["geo_meta"] + p["pixel_pairs"] - p["pixel"],
            "pip.pairs_rows": a["n_pairs"],
            "pip.candidate_rows": cand,
            "pip.hit_ratio": a["n_pairs"] / cand,
            "codecs.pixel_mean_self_s": p["pixel"] - p["geo_full"],
            "codecs.py_run_s": py_s,
            "codecs.py_boot_s": zs["eval.py_boot_s"],
            "codecs.arrow_sent_mb": zs["eval.arrow_sent_mb"],
            "codecs.arrow_mb_per_py_s": zs["eval.arrow_sent_mb"] / py_s if py_s else 0.0,
            "pipeline.zone_stats_s": zs["wall_s"],
            "pipeline.agg_self_s": p["zone_stats"] - p["pixel_pairs"],
        }


class PointSample(Workload):
    """value_at_coords and bilinear interp for every point."""

    name = "point_sample"
    row_kind = "points"

    def _check(self, key: str):
        a = self.ans

        def ok(t) -> bool:
            pid = t.column("point_id").to_numpy()
            order = np.argsort(pid)
            img = image_idx(t.column("image_id").to_pylist())[order]
            val = t.column("val").to_numpy(zero_copy_only=False)[order]
            return (
                np.array_equal(pid[order], a["sample_point"])
                and np.array_equal(img, a["sample_img"])
                and np.allclose(val, a[key], rtol=1e-12, atol=1e-9)
            )

        return ok

    def legs(self, it: int) -> list[Leg]:
        return [
            Leg("operators.sampling.value_at_coords",
                lambda: sampling.value_at_coords(self.points, geo.georegister(self.images)).toArrow(),
                self._check("sample_val")),
            Leg("operators.sampling.interp",
                lambda: sampling.interp(self.points, geo.georegister(self.images), order=1).toArrow(),
                self._check("sample_interp")),
        ]

    def probes(self):
        full = lambda: geo.georegister(self.images)  # noqa: E731
        meta = self.images.select("image_id", "w", "h")
        return {
            "scan_full": lambda: noop(self.images),
            "scan_points": lambda: noop(self.points),
            "geo_full": lambda: noop(full()),
            "geo_meta": lambda: noop(geo.georegister(meta)),
            "assign": lambda: noop(geo.tile_assignments(geo.georegister(meta))),
            "value_at": lambda: noop(sampling.value_at_coords(self.points, full())),
            "interp": lambda: noop(sampling.interp(self.points, full(), order=1)),
        }

    def attributed(self, p, legs):
        return p["value_at"] + p["interp"]

    def candidate_rows(self) -> int:
        """Rows of the point x exploded-cover-cell join that pass the extent
        test, i.e. what the row_number dedup ranks."""
        pts = self.points.select(
            "x", "y", cells.cell_encode(F.col("x"), F.col("y"), DEFAULT_RES).alias("cell_id")
        )
        tl = geo.georegister(self.images).select(
            "xmin", "xmax", "ymin", "ymax", F.explode("cover_cells").alias("cell_id")
        )
        return tl.join(F.broadcast(pts), "cell_id").where(
            (F.col("x") >= F.col("xmin")) & (F.col("x") < F.col("xmax"))
            & (F.col("y") > F.col("ymin")) & (F.col("y") <= F.col("ymax"))
        ).count()

    def layers(self, p, legs):
        a = self.ans
        va = legs["operators.sampling.value_at_coords"]
        ip = legs["operators.sampling.interp"]
        cand = self.candidate_rows()
        sampling_self = p["value_at"] + p["interp"] - 2 * (p["geo_full"] + p["scan_points"])
        return {
            "sources.scan_s": 2 * (p["scan_full"] + p["scan_points"]),
            "georegister.self_s": 2 * (p["geo_full"] - p["scan_full"]),
            # nested inside the sampling self time (its candidate join
            # explodes cover_cells); not added to the attributed sum
            "cells.assign_self_s": p["assign"] - p["geo_meta"],
            "cells.assign_rows": a["n_assign"],
            "cells.fanout": a["n_assign"] / self.inp.n_images,
            "sampling.self_s": sampling_self,
            "sampling.value_at_s": va["wall_s"],
            "sampling.interp_s": ip["wall_s"],
            "sampling.candidate_rows": cand,
            "sampling.winner_ratio": a["n_samples"] / cand,
            "sampling.shuffle_write_mb": va["shuffle_write_mb"] + ip["shuffle_write_mb"],
            "sampling.py_run_s": va["map.py_run_s"] + ip["map.py_run_s"],
            "sampling.arrow_sent_mb": va["map.arrow_sent_mb"] + ip["map.arrow_sent_mb"],
        }


class CheckpointResume(Workload):
    """jobs/run_pipeline.py's shape: snapshot, checkpointed write, kill a
    seeded quarter of the unit manifests, resume, read back."""

    name = "checkpoint_resume"
    own = ("icelite", "checkpoint")

    def __init__(self, *args):
        super().__init__(*args)
        self.stats: dict[int, dict] = {}

    def _dir(self, it: int) -> Path:
        return self.work / "ckpt" / f"it{it}"

    def _result(self, table: Path, version: int):
        pinned = icelite.read_snapshot(self.spark, table, version=version)
        tiles = (
            geo.georegister(pinned)
            .withColumn("tile_mean", pixel_mean(F.col("bytes"), F.col("w"), F.col("h"), F.col("fmt")))
            .withColumn("unit", cells.cell_parent_chain(F.col("cell_id"), DEFAULT_RES, self.inp.unit_res))
        )
        pairs = pipop.pip_join(
            tiles, self.zones, x=geo.centroid_x(), y=geo.centroid_y(), max_ring=self.max_ring
        )
        return pairs.select("image_id", "zone_id", "tile_mean", "unit")

    def legs(self, it: int) -> list[Leg]:
        a = self.ans
        d = self._dir(it)
        shutil.rmtree(d, ignore_errors=True)
        table, out = d / "input_snapshot", d / "zone_pairs"
        st: dict = {}
        units, counts = np.unique(a["pair_unit"], return_counts=True)
        rows_of = dict(zip(units.tolist(), counts.tolist()))

        def write():
            return ckpt.checkpointed_write(
                self._result(table, st["version"]), out, "unit",
                metric_aggs={"mean_tile_mean": F.avg("tile_mean")},
                input_snapshot=f"v{st['version']}",
            )

        def snapshot_ok(v) -> bool:
            st["version"] = v
            info = icelite.snapshot_info(table, v)
            import pyarrow.parquet as pq

            rows = sum(pq.ParquetFile(table / f["path"]).metadata.num_rows for f in info["files"])
            return v == 0 and rows == self.inp.n_images

        def write_ok(rep) -> bool:
            return (
                rep.rows_written == a["n_pairs"]
                and sorted(rep.processed_units) == units.tolist()
                and not rep.skipped_units
            )

        def kill() -> None:
            rng = np.random.default_rng([self.seed, it])
            st["killed"] = sorted(rng.choice(units, len(units) // 4, replace=False).tolist())
            for u in st["killed"]:
                (out / "_manifest" / f"{u}.json").unlink()

        def resume_ok(rep) -> bool:
            return (
                sorted(rep.processed_units) == st["killed"]
                and len(rep.skipped_units) == len(units) - len(st["killed"])
                and rep.rows_written == sum(rows_of[u] for u in st["killed"])
            )

        def readback():
            return ckpt.read_checkpointed(self.spark, out).select("image_id", "zone_id", "tile_mean").toArrow()

        def readback_ok(t) -> bool:
            img = image_idx(t.column("image_id").to_pylist())
            zone = t.column("zone_id").to_numpy()
            mean = t.column("tile_mean").to_numpy()
            order = np.lexsort((img, zone))
            manifests = sorted(int(p.stem) for p in (out / "_manifest").glob("*.json"))
            return (
                self.pairs_ok(img, zone)
                and np.allclose(mean[order], a["pair_mean"], rtol=0, atol=1e-9)
                and manifests == units.tolist()
            )

        return [
            Leg("sources.icelite.write_snapshot", lambda: icelite.write_snapshot(self.images, table), snapshot_ok),
            Leg("plans.checkpoint.checkpointed_write", write, write_ok, after=kill),
            Leg("plans.checkpoint.resume", write, resume_ok),
            Leg("plans.checkpoint.read_checkpointed", readback, readback_ok),
        ]

    def cleanup(self, it: int) -> None:
        d = self._dir(it)
        data = [f for f in (d / "zone_pairs" / "data").rglob("*.parquet")]
        snap = [f for f in (d / "input_snapshot" / "data").rglob("*.parquet")]
        self.stats[it] = {
            "files": len(data),
            "written_mb": sum(f.stat().st_size for f in data) / 1e6,
            "snapshot_mb": sum(f.stat().st_size for f in snap) / 1e6,
        }
        shutil.rmtree(d, ignore_errors=True)

    def close(self) -> None:
        shutil.rmtree(self.work / "ckpt", ignore_errors=True)

    def probes(self):
        # the write leg's compute, over the same kind of snapshot the legs pin
        d = self.work / "ckpt" / "probe"
        shutil.rmtree(d, ignore_errors=True)
        table = d / "input_snapshot"
        icelite.write_snapshot(self.images, table)
        return {"result": lambda: noop(self._result(table, 0))}

    def attributed(self, p, legs):
        # every leg is itself a layer call, so its wall time is that
        # layer's self time (write_self adds back what the probe took)
        return sum(leg["wall_s"] for leg in legs.values())

    def layers(self, p, legs):
        a = self.ans
        w = legs["plans.checkpoint.checkpointed_write"]
        r = legs["plans.checkpoint.resume"]
        snap = legs["sources.icelite.write_snapshot"]
        stats = list(self.stats.values())
        med = lambda k: float(np.median([s[k] for s in stats]))  # noqa: E731
        py_s = w["eval.py_run_s"] + r["eval.py_run_s"]
        sent = w["eval.arrow_sent_mb"] + r["eval.arrow_sent_mb"]
        return {
            "codecs.py_run_s": py_s,
            "codecs.py_boot_s": w["eval.py_boot_s"] + r["eval.py_boot_s"],
            "codecs.arrow_sent_mb": sent,
            "codecs.arrow_mb_per_py_s": sent / py_s if py_s else 0.0,
            "pip.pairs_rows": a["n_pairs"],
            "icelite.snapshot_s": snap["wall_s"],
            "icelite.written_mb": med("snapshot_mb"),
            "checkpoint.write_s": w["wall_s"],
            "checkpoint.write_self_s": w["wall_s"] - p["result"],
            "checkpoint.resume_s": r["wall_s"],
            "checkpoint.readback_s": legs["plans.checkpoint.read_checkpointed"]["wall_s"],
            "checkpoint.units": a["n_units"],
            "checkpoint.units_resumed": a["n_units"] // 4,
            "checkpoint.files": med("files"),
            "checkpoint.written_mb": med("written_mb"),
            "checkpoint.out_bytes_per_row": med("written_mb") * 1e6 / a["n_pairs"],
        }


# The checkpoint legs ride in headline's traced run: see BENCHMARK.json's
# workload list for why checkpoint_resume is not timed on its own there.
Headline.companions = (CheckpointResume,)
WORKLOADS = {w.name: w for w in (Headline, PointSample, CheckpointResume)}
