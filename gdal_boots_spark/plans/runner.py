"""Checkpoint/resume stage runner with per-partition lineage metrics.

The north rule requires runs over 10^12 docs to be *resumable with
per-partition lineage + row-count metrics* recorded to Iceberg metadata
tables.  No Iceberg jar exists in this sandbox, so the engine owns an
equivalent Parquet + JSON-manifest layer (SURVEY §2.10, §7 M6) with a
deliberate catalog seam: every manifest/metrics write goes through this
class, so a real Iceberg catalog can be dropped in by reimplementing
``_load_manifest`` / ``_save_manifest`` / ``_write_metrics``.

Layout under ``root/``:
    _manifest.json            — {stage: {status, rows, files, wall_sec,
                                         fingerprint, finished_at}}
    _metrics/<stage>.parquet  — (stage, file, rows) per output file —
                                 the per-partition lineage table
    <stage>/                  — the stage's output parquet

``run(name, fn)`` executes ``fn() -> DataFrame`` exactly once per
(name, fingerprint); reruns read the parquet back and skip compute.
A changed fingerprint (input version / code version) invalidates the
stage and everything is recomputed on demand — downstream stages see
the new data because they read through the runner.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo


class StageRunner:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._manifest_path = os.path.join(root, "_manifest.json")
        self.events: list[dict] = []  # in-session log: ran / skipped

    # --- catalog seam -------------------------------------------------
    def _load_manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {}

    def _save_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)  # atomic: no torn manifests

    def _write_metrics(self, stage: str, metrics_df: DataFrame) -> None:
        metrics_df.write.mode("overwrite").parquet(os.path.join(self.root, "_metrics", stage))

    # --- public API -----------------------------------------------------
    def metrics(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, "_metrics", stage))

    def run(self, name: str, fn, fingerprint: str = "v1") -> DataFrame:
        """Execute (or resume) a stage; returns the materialized output."""
        manifest = self._load_manifest()
        out_path = os.path.join(self.root, name)
        entry = manifest.get(name)
        if entry and entry.get("status") == "done" and entry.get("fingerprint") == fingerprint and os.path.exists(out_path):
            self.events.append({"stage": name, "action": "skipped", "rows": entry["rows"]})
            return self.spark.read.parquet(out_path)

        t0 = time.perf_counter()
        with memo.releasing():  # fn()'s cached relations end at commit
            fn().write.mode("overwrite").parquet(out_path)
            out = self.spark.read.parquet(out_path)

            # per-file (≈ per-partition) lineage + row counts — the Iceberg
            # manifest-entry analogue, computed from the files as written
            lineage = (
                out.groupBy(F.input_file_name().alias("file"))
                .agg(F.count("*").alias("rows"))
                .select(F.lit(name).alias("stage"), "file", "rows")
            )
            self._write_metrics(name, lineage)
            mrows = self.spark.read.parquet(os.path.join(self.root, "_metrics", name)).collect()
            total = sum(r["rows"] for r in mrows)

            manifest = self._load_manifest()
            manifest[name] = {
                "status": "done",
                "rows": int(total),
                "files": len(mrows),
                "wall_sec": round(time.perf_counter() - t0, 3),
                "fingerprint": fingerprint,
                "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            self._save_manifest(manifest)
        self.events.append({"stage": name, "action": "ran", "rows": int(total)})
        return out

    def invalidate(self, name: str) -> None:
        manifest = self._load_manifest()
        manifest.pop(name, None)
        self._save_manifest(manifest)
