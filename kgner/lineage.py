"""Per-stage lineage/metrics (north-rule requirement).

Each pipeline stage records (stage, rows_out, wall_ms, status, inputs,
per-partition rows) under the workdir. Stage row counts come from
`df.observe()` — a side effect of the stage's own write action — and
per-partition counts from the written parquet FOOTERS, so lineage adds no
passes over the data. The per-partition map is the skew monitor: one
partition file holding most rows = a hot key that needs salting.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class StageRecord:
    stage: str
    rows_out: int
    wall_ms: int
    status: str
    run_id: str
    inputs: tuple[str, ...] = ()  # upstream stages/tables; rows_in of this
    # stage = rows_out of each input's record (stages are table-to-table)
    partitions: dict[str, int] | None = None  # per-partition-file row counts
    extras: dict | None = None  # stage-specific plan decisions (e.g. salting)


class LineageLog:
    def __init__(self, workdir: str):
        self.dir = os.path.join(workdir, "_lineage")
        os.makedirs(self.dir, exist_ok=True)
        self.run_id = uuid.uuid4().hex[:12]

    def record(self, rec: StageRecord) -> None:
        path = os.path.join(self.dir, f"{rec.stage}.json")
        with open(path, "w") as f:
            json.dump(asdict(rec), f)

    def observed_write(
        self,
        stage: str,
        df: DataFrame,
        write_fn,
        inputs: tuple[str, ...] = (),
        table_dir: str | None = None,
        extras: dict | None = None,
    ) -> None:
        """Run write_fn(df_with_observation); capture row count + wall time,
        plus PER-PARTITION row counts read from the written parquet footers
        (metadata only — no extra pass over the data)."""
        obs = Observation(f"lineage_{stage}")
        t0 = time.monotonic()
        write_fn(df.observe(obs, F.count(F.lit(1)).alias("rows")))
        wall = int((time.monotonic() - t0) * 1000)
        rows = int(obs.get.get("rows", 0))
        parts = self._partition_rows(table_dir) if table_dir else None
        self.record(
            StageRecord(stage, rows, wall, "ok", self.run_id, inputs, parts, extras)
        )

    @staticmethod
    def _partition_rows(table_dir: str) -> dict[str, int]:
        """Per-partition-file rows from parquet footers (skew visibility)."""
        import pyarrow.parquet as pq

        out: dict[str, int] = {}
        for root, _, files in os.walk(table_dir):
            for fn in files:
                if fn.endswith(".parquet"):
                    rel = os.path.relpath(os.path.join(root, fn), table_dir)
                    try:
                        out[rel] = pq.ParquetFile(
                            os.path.join(root, fn)
                        ).metadata.num_rows
                    except Exception:
                        out[rel] = -1
        return out

    def read(self, stage: str) -> dict | None:
        """One stage's last record, or None if it has none."""
        path = os.path.join(self.dir, f"{stage}.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def read_all(self) -> list[dict]:
        out = []
        for fn in sorted(os.listdir(self.dir)):
            if fn.endswith(".json"):
                with open(os.path.join(self.dir, fn)) as f:
                    out.append(json.load(f))
        return out
