"""The benchmark's workloads. One op is one CLI run through
``codem_spark.main.main(argv, spark=spark)`` into a fresh output directory;
``run`` is the timed part, ``check`` reads the outputs afterwards."""

from __future__ import annotations

import json
import os
import time

import pandas as pd

import checks
import scenes
from spans import Target


def _fresh_record(path: str, since: float) -> list[str]:
    """An op must write its own record: a reused output directory would let
    the CLI resume a finished run and time a no-op."""
    if not os.path.exists(path):
        return [f"missing {os.path.basename(path)}"]
    if os.path.getmtime(path) < since:
        return [f"stale {os.path.basename(path)}"]
    return []


def _manifest_rows(out_dir: str, stage: str) -> int:
    with open(os.path.join(out_dir, f"stage_{stage}.json")) as fh:
        return int(json.load(fh)["row_count"])


class Register:
    """CLI ``register`` with ``--min-resolution 4 --resolution 4
    --icp-max-iter 10``. Every op registers the ``identity`` AOI, the one
    case whose ICP iteration count (2) does not depend on the seed. The
    traced run adds one ``translate_x10`` op, the case whose ICP may run to
    the cap."""

    name = "register"
    cold_case = case = "identity"
    # one warm op varied by more than a tenth between runs; the first two
    # warm ops still sit on the warm-up curve, at the same place every run
    warm_ops = 2
    cap_case = "translate_x10"
    n_points = 16_000
    extent = 400.0

    def prepare(self, seed: int, input_dir: str) -> None:
        self.scene = scenes.register_scene(seed, input_dir, self.n_points, self.extent)

    def run(self, spark, case: str, out_dir: str) -> None:
        from codem_spark import main

        res = str(self.scene.resolution)
        main.main(["register", self.scene.foundation, self.scene.aois[case],
                   "--output-dir", out_dir, "--min-resolution", res,
                   "--resolution", res, "--icp-max-iter", "10"], spark=spark)

    def check(self, case: str, out_dir: str, since: float) -> tuple[list[str], dict]:
        rec_path = os.path.join(out_dir, "registration.json")
        bad = _fresh_record(rec_path, since)
        bad += _fresh_record(os.path.join(out_dir, "stage_registered_aoi.json"), since)
        if os.path.getsize(os.path.join(out_dir, "dsm_feature_matches.png")) == 0:
            bad.append("empty match image")
        if bad:
            return bad, {}
        with open(rec_path) as fh:
            fine = json.load(fh)["fine"]
        bad = checks.check_register(fine, self.scene.truth[case], self.scene.resolution)
        if _manifest_rows(out_dir, "registered_aoi") == 0:
            bad.append("empty registered table")
        return bad, {"fine.iterations": fine["iterations"], "fine.rmse_3d": fine["rmse_3d"]}

    def traced_extra(self, runner, spark, tracer) -> dict:
        rec = runner.op(spark, self.cap_case, "cap", tracer)
        return {"x10.op_s": rec["latency_s"], "x10.fine.s": rec.get("fine.s", 0.0),
                "x10.fine.iterations": rec.get("fine.iterations", 0)}

    @staticmethod
    def targets() -> list[Target]:
        from codem_spark.registration import coarse, pipeline, viz

        return [
            Target("preprocess", pipeline, "preprocess"),
            Target("coarse", pipeline, "coarse_registration",
                   lambda c: {"coarse.pairs": c.n_pairs}),
            Target("coarse.match", coarse, "match_features"),
            Target("coarse.ransac", coarse, "ransac_similarity"),
            Target("fine", pipeline, "fine_registration_stage",
                   lambda f: {"fine.iterations": f.iterations}),
            Target("io.write", viz, "save_match_visualization"),
        ]


class Vcd:
    """CLI ``vcd`` with tolerance 15, min_points 10, resolution 20 and
    knn_radius 30 on the planted-change scene; every op runs the same
    inputs."""

    name = "vcd"
    cold_case = case = "planted"
    # one warm vcd op varies by up to 40 % between runs; the median of two
    # or three (as many as fit in --seconds) is steadier
    warm_ops = 2
    n_points = 30_000

    def prepare(self, seed: int, input_dir: str) -> None:
        self.scene = scenes.vcd_scene(seed, input_dir, self.n_points)

    def run(self, spark, case: str, out_dir: str) -> None:
        from codem_spark import main

        main.main(["vcd", self.scene.before, self.scene.after, "--output-dir", out_dir,
                   "--tolerance", "15", "--min-points", "10", "--resolution", "20",
                   "--knn-radius", "30"], spark=spark)

    def check(self, case: str, out_dir: str, since: float) -> tuple[list[str], dict]:
        stages = ("clustered", "summaries", "product_raised", "product_lowered", "product_all")
        bad = [b for s in stages for b in _fresh_record(os.path.join(out_dir, f"stage_{s}.json"), since)]
        bad += _fresh_record(os.path.join(out_dir, "meshes", "clusters.shp"), since)
        if bad:
            return bad, {}
        summaries = pd.read_parquet(os.path.join(out_dir, "summaries"))
        rows = {p: _manifest_rows(out_dir, f"product_{p}") for p in ("raised", "lowered")}
        bad = checks.check_vcd(summaries, self.scene.n_new, self.scene.n_fled, rows)
        return bad, {"vcd.change_points": _manifest_rows(out_dir, "clustered"),
                     "vcd.clusters": len(summaries)}

    def traced_extra(self, runner, spark, tracer) -> dict:
        reg = registration_1m(spark)
        runner.detail["registration_1m"] = reg
        out = {"reg1m.outcome": 1 if reg["ok"] else -1}
        for k in ("preprocess_s", "coarse_s", "fine_s", "coarse_pairs", "coarse_scale"):
            out[f"reg1m.{k}"] = reg.get(k, 0.0)
        return out

    @staticmethod
    def targets() -> list[Target]:
        from codem_spark import vcd
        from codem_spark.io import tables

        return [
            Target("vcd.run", vcd, "run_vcd"),
            Target("vcd.cluster", vcd, "cluster_changes"),
            Target("io.write", tables, "quantized_point_write"),
            Target("io.write", vcd, "export_multipatch"),
        ]


WORKLOADS = {w.name: w for w in (Register, Vcd)}


def all_targets() -> list[Target]:
    """Every span of every workload; a span that never fires reads 0."""
    from codem_spark.io import lineage

    return [Target("io.write", lineage, "run_stage"), *Register.targets(), *Vcd.targets()]


def registration_1m(spark) -> dict:
    """One library-level run of ``bench.py``'s 1.2M-point registration scene
    at the session's defaults, with stage times and the outcome, failure
    included. Not an op: it is recorded, never retried or re-partitioned."""
    from codem_spark.config import EngineConfig
    from codem_spark.registration import pipeline as P

    fnd, aoi, truth, ext = scenes.registration_1m()
    out: dict = {"n_points": len(fnd) + len(aoi), "ok": 0}
    cfg = EngineConfig(min_resolution=4.0)
    t = time.perf_counter()
    prep = None
    try:
        fnd_df, aoi_df = spark.createDataFrame(fnd), spark.createDataFrame(aoi)
        out["load_s"] = time.perf_counter() - t
        t = time.perf_counter()
        prep = P.preprocess(fnd_df, aoi_df, extent=ext, cfg=cfg, resolution=4.0)
        out["preprocess_s"] = time.perf_counter() - t
        t = time.perf_counter()
        c = P.coarse_registration(prep, cfg)
        out["coarse_s"] = time.perf_counter() - t
        out.update(coarse_pairs=c.n_pairs, coarse_scale=c.scale, coarse_rmse_3d=c.rmse_3d)
        t = time.perf_counter()
        f = P.fine_registration_stage(prep, c, cfg)
        out["fine_s"] = time.perf_counter() - t
        out.update(fine_iterations=f.iterations, fine_rmse_3d=f.rmse_3d)
        out["problems"] = checks.check_register(f.to_dict(), truth, 4.0)
        out["ok"] = int(not out["problems"])
    except Exception as e:  # the outcome is the measurement
        out["error"] = f"{type(e).__name__}: {e}"
        out["failed_stage_s"] = time.perf_counter() - t
    finally:
        if prep is not None:
            prep.fnd_dsm.unpersist()
            prep.aoi_dsm.unpersist()
    return out
