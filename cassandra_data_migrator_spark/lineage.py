"""Per-partition run lineage — the ``cdm_run_info`` / ``cdm_run_details``
analog.

Reference: CDM persists run lineage on the target cluster
(``cql/statement/TargetUpsertRunDetailsStatement.java:52-224``; DDL at
:63-66): ``cdm_run_info(table_name, run_id, run_type, prev_run_id,
start_time, end_time, run_info, status)`` and ``cdm_run_details(
(table_name, run_id), token_min -> token_max, status, run_info)``, with
statuses from ``feature/TrackRun.java:33-35`` (NOT_STARTED / STARTED /
PASS / FAIL / DIFF / DIFF_CORRECTED / ENDED). A rerun reprocesses only
NOT_STARTED/STARTED/FAIL/DIFF ranges (``job/BasePartitionJob.scala:41-58``).

Here lineage is informational telemetry (counts, watermarks, statuses)
appended as parquet; the *authoritative* exactly-once guard is the set
of applied ``partition:batch_epoch`` commit keys stored inside the lake
table's manifest, so "apply batch" and "record batch as applied" are one
atomic commit (SURVEY §7.4 hard part a).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

STATUS = ("NOT_STARTED", "STARTED", "PASS", "FAIL", "DIFF", "DIFF_CORRECTED", "ENDED")

DETAILS_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("run_id", T.LongType()),
        T.StructField("prev_run_id", T.LongType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("batch_epoch", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("watermark_seq", T.LongType()),
        T.StructField("read_cnt", T.LongType()),
        T.StructField("write_cnt", T.LongType()),
        T.StructField("skipped_cnt", T.LongType()),
        T.StructField("error_cnt", T.LongType()),
        T.StructField("corrected_cnt", T.LongType()),
        T.StructField("ts_unix", T.DoubleType()),
    ]
)


class LineageStore:
    def __init__(self, spark: SparkSession, path: str, table_name: str = "pages"):
        self.spark = spark
        self.path = path
        self.table_name = table_name
        os.makedirs(os.path.join(path, "run_info"), exist_ok=True)
        os.makedirs(os.path.join(path, "run_details"), exist_ok=True)

    # -- run info: one JSON file per run (start/end), CDM cdm_run_info analog
    def start_run(self, run_id: int, run_type: str, prev_run_id: int = 0) -> None:
        self._write_info(run_id, run_type, prev_run_id, status="STARTED")

    def end_run(self, run_id: int, run_type: str, run_info: dict | None = None) -> None:
        self._write_info(run_id, run_type, 0, status="ENDED", run_info=run_info or {})

    def _write_info(self, run_id, run_type, prev_run_id, status, run_info=None):
        rec = {
            "table_name": self.table_name,
            "run_id": run_id,
            "run_type": run_type,
            "prev_run_id": prev_run_id,
            "status": status,
            "run_info": run_info or {},
            "ts_unix": time.time(),
        }
        p = os.path.join(self.path, "run_info", f"{run_id}-{status}-{uuid.uuid4().hex}.json")
        with open(p, "w") as f:
            json.dump(rec, f)

    def latest_run_id(self) -> int:
        """LIMIT 1 latest-run lookup analog
        (TargetUpsertRunDetailsStatement.java:71-72)."""
        best = 0
        d = os.path.join(self.path, "run_info")
        for fn in os.listdir(d):
            try:
                best = max(best, int(fn.split("-", 1)[0]))
            except ValueError:
                continue
        return best

    # -- run details: parquet-append per (partition, batch_epoch)
    def record_batch(
        self,
        run_id: int,
        partition: int | list[int],
        batch_epoch: int,
        status: str,
        counters: dict[str, int] | None = None,
        watermark_seq: int = -1,
        prev_run_id: int = 0,
    ) -> None:
        """Append lineage rows for one epoch (all its partitions at once).

        Written with pyarrow on the driver — lineage is telemetry, not a
        distributed dataset, and must not cost a Spark job per record.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        c = counters or {}
        parts = partition if isinstance(partition, list) else [partition]
        now = time.time()
        rows = {
            "table_name": [self.table_name] * len(parts),
            "run_id": [run_id] * len(parts),
            "prev_run_id": [prev_run_id] * len(parts),
            "partition": parts,
            "batch_epoch": [batch_epoch] * len(parts),
            "status": [status] * len(parts),
            "watermark_seq": [watermark_seq] * len(parts),
            "read_cnt": [c.get("READ", 0)] * len(parts),
            "write_cnt": [c.get("WRITE", 0)] * len(parts),
            "skipped_cnt": [c.get("SKIPPED", 0)] * len(parts),
            "error_cnt": [c.get("ERROR", 0)] * len(parts),
            "corrected_cnt": [c.get("CORRECTED_MISSING", 0) + c.get("CORRECTED_MISMATCH", 0)]
            * len(parts),
            "ts_unix": [now] * len(parts),
        }
        table = pa.Table.from_pydict(rows, schema=to_arrow_schema(DETAILS_SCHEMA))
        out = os.path.join(
            self.path, "run_details", f"r{run_id}-e{batch_epoch}-{uuid.uuid4().hex}.parquet"
        )
        pq.write_table(table, out)

    def details(self) -> DataFrame:
        d = os.path.join(self.path, "run_details")
        if not any(f.endswith(".parquet") for _, _, fs in os.walk(d) for f in fs):
            return self.spark.createDataFrame([], DETAILS_SCHEMA)
        return self.spark.read.schema(DETAILS_SCHEMA).parquet(d)
