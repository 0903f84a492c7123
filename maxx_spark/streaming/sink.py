"""Exactly-once sink (E9) + per-partition lineage & metrics (E10).

Iceberg's idempotent-commit semantics emulated on a filesystem:

- Output rows of micro-batch B land under ``data/batch_id=B/`` written ONCE:
  a commit marker ``_commits/B.json`` is checked first; foreachBatch replays
  (after failure/restart) see the marker and skip — the committed row set is
  exactly the union over distinct batch ids.
- The marker is written atomically (temp file + ``os.replace``) AFTER data,
  lineage and dead letters land, so a crash before the marker replays the
  batch into the same deterministic paths (overwrite) — never duplicates.
- Lineage: one row per (batch_id, partition_id) with input rows and event-
  time bounds, written under ``lineage/``, read from the data files'
  parquet footers on the driver.
- Dead letters (P34): rows with a non-null ``error`` are copied to
  ``errors/batch_id=B/part-00000.parquet`` on the driver with pyarrow. The
  footer scan flags the row groups that hold errors (or have no
  statistics); only those are read, one row group at a time, so driver
  memory is bounded by one row group whatever the size of an error burst.
  The marker records the copied count (``dlq_rows``) and a copy that
  disagrees with the footers' exact count fails the batch before its
  marker. Each commit therefore runs ONE Spark job, the data write.

At cluster scale the same protocol holds with an object store + Iceberg
table commits; the marker becomes the Iceberg snapshot with
``commit.retry`` keyed on (batch_id) — the logic here is the portable part.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LINEAGE_SCHEMA = pa.schema(
    [
        ("partition_id", pa.int32()),
        ("rows", pa.int64()),
        ("min_ts", pa.string()),
        ("max_ts", pa.string()),
        ("batch_id", pa.int64()),
    ]
)


def _error_rows(table: pa.Table) -> pa.Table:
    """The dead-letter predicate: ``error IS NOT NULL``."""
    return table.filter(pc.is_valid(table.column("error")))


def copy_error_rows(flagged: list[tuple[str, list[int]]], out_dir: str) -> int:
    """Copy the ``error IS NOT NULL`` rows of the flagged row groups
    (``[(data file, [row group, ...]), ...]``) into ``out_dir/part-00000.parquet``
    and return the number of rows copied.

    Row groups stream one at a time into one ``ParquetWriter`` that uses the
    first data file's own arrow schema, so Spark's row metadata, ``__pid``
    and the TIMESTAMP_MICROS columns read back exactly as in the data
    files. The file is written under a hidden temp name and moved into place
    with ``os.replace``; nothing is created when no row matches."""
    writer = None
    tmp = f"{out_dir}/.part-00000.parquet.tmp"
    n = 0
    try:
        for path, row_groups in flagged:
            pf = pq.ParquetFile(path)
            for rg in row_groups:
                rows = _error_rows(pf.read_row_group(rg))
                if rows.num_rows == 0:
                    continue
                if writer is None:
                    os.makedirs(out_dir, exist_ok=True)
                    writer = pq.ParquetWriter(tmp, pf.schema_arrow)
                writer.write_table(rows)
                n += rows.num_rows
    finally:
        if writer is not None:
            writer.close()
    if writer is not None:
        os.replace(tmp, f"{out_dir}/part-00000.parquet")
    return n


class ExactlyOnceParquetSink:
    def __init__(self, base_dir: str, ts_col: str = "warc_ts"):
        self.base = base_dir
        self.ts_col = ts_col
        os.makedirs(f"{base_dir}/_commits", exist_ok=True)
        os.makedirs(f"{base_dir}/data", exist_ok=True)
        os.makedirs(f"{base_dir}/lineage", exist_ok=True)
        os.makedirs(f"{base_dir}/errors", exist_ok=True)

    # -- commit log ---------------------------------------------------------

    def _marker(self, batch_id: int) -> str:
        return f"{self.base}/_commits/{batch_id}.json"

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._marker(batch_id))

    def _commit(self, batch_id: int, meta: dict) -> None:
        tmp = self._marker(batch_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._marker(batch_id))  # atomic

    def committed_batches(self) -> list[int]:
        out = []
        for name in os.listdir(f"{self.base}/_commits"):
            if name.endswith(".json"):
                out.append(int(name[:-5]))
        return sorted(out)

    # -- foreachBatch body ----------------------------------------------------

    def __call__(self, df: DataFrame, batch_id: int) -> None:
        if self.is_committed(batch_id):
            return  # replay after restart — already durable
        t0 = time.time()
        data_dir = f"{self.base}/data/batch_id={batch_id}"
        # ONE pass over the (expensive) batch plan: write data including the
        # producing partition id. This is the commit's only Spark job.
        df.withColumn("__pid", F.spark_partition_id()).write.mode(
            "overwrite"
        ).parquet(data_dir)
        t_data = time.time()

        # Lineage from the parquet FOOTERS (Iceberg-manifest style): one
        # output file per task ↔ partition, so per-file row counts and
        # warc_ts column statistics ARE the per-partition lineage — read
        # driver-side, no second Spark job over the batch. Footers read in
        # a thread pool (per-file work is GIL-releasing pyarrow IO+parse):
        # serial scan was the dominant slice of the per-batch fixed cost
        # at 64-128 output files per trigger.
        lineage_rows, flagged, expected = self._footer_lineage(data_dir, batch_id)
        n_rows = sum(r["rows"] for r in lineage_rows)
        self._write_lineage(lineage_rows, batch_id)
        t_lineage = time.time()

        # dead-letter routing (P34): copy on the driver only the row groups
        # the footers flagged (non-null `error` values, or no statistics),
        # routing on the SAME predicate that flagged them (error IS NOT
        # NULL), so a producer emitting error without kind='error' cannot
        # lose rows from the DLQ (the sink is schema-generic). Memory is one
        # row group at a time. There is no Spark fallback: the footer scan
        # above already reads every data file through the driver's
        # filesystem, and a second path behind a size knob would go
        # untested. Stale files of an earlier, uncommitted attempt are
        # cleared first, and the copy lands before the marker, so a replay
        # rewrites the same single file.
        err_dir = f"{self.base}/errors/batch_id={batch_id}"
        shutil.rmtree(err_dir, ignore_errors=True)
        dlq_rows = copy_error_rows(flagged, err_dir)
        if expected is not None and dlq_rows != expected:
            shutil.rmtree(err_dir, ignore_errors=True)
            raise RuntimeError(
                f"batch {batch_id}: copied {dlq_rows} dead-letter rows, "
                f"the footers count {expected}"
            )
        now = time.time()
        self._commit(
            batch_id,
            {
                "rows": n_rows,
                "dlq_rows": dlq_rows,
                "wall_s": round(now - t0, 3),
                # fixed-cost breakdown (observability for the scaling work):
                # data = the batch plan + parquet write; lineage = footer
                # scan + lineage file; dlq = driver-side error-row copy
                "data_s": round(t_data - t0, 3),
                "lineage_s": round(t_lineage - t_data, 3),
                "dlq_s": round(now - t_lineage, 3),
                "ts": now,
            },
        )

    def _footer_lineage(self, data_dir: str, batch_id: int):
        """Lineage rows of the batch's data files, the row groups that may
        hold error rows (``[(file, [row group, ...]), ...]``) and their
        exact error count (None when a flagged row group has no
        statistics)."""
        from concurrent.futures import ThreadPoolExecutor

        def one(path: str):
            md = pq.ParquetFile(path).metadata
            n = md.num_rows
            mn = mx = None
            part_id = None
            schema_names = {md.schema.column(i).path: i for i in range(md.num_columns)}
            # producing partition id from the __pid column stats (constant
            # per file: one task writes one file); filename index fallback
            if "__pid" in schema_names and md.num_row_groups > 0:
                st = md.row_group(0).column(schema_names["__pid"]).statistics
                if st and st.has_min_max:
                    part_id = int(st.min)
            if part_id is None:
                part_id = int(os.path.basename(path).split("-")[1])
            flagged, errors = [], 0
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                if self.ts_col in schema_names:
                    st = g.column(schema_names[self.ts_col]).statistics
                    if st and st.has_min_max:
                        mn = min(mn, st.min) if mn is not None else st.min
                        mx = max(mx, st.max) if mx is not None else st.max
                if "error" in schema_names:
                    c = g.column(schema_names["error"])
                    st = c.statistics
                    if st is not None and st.has_null_count:
                        if c.num_values > st.null_count:
                            flagged.append(rg)
                            if errors is not None:
                                errors += c.num_values - st.null_count
                    else:  # no stats → must scan the whole row group
                        flagged.append(rg)
                        errors = None
            row = {
                "partition_id": part_id,
                "rows": n,
                "min_ts": str(mn) if mn is not None else None,
                "max_ts": str(mx) if mx is not None else None,
                "batch_id": batch_id,
            }
            return row, flagged, errors

        paths = sorted(glob.glob(f"{data_dir}/part-*.parquet"))
        if not paths:
            return [], [], 0
        with ThreadPoolExecutor(max_workers=min(16, len(paths))) as ex:
            results = list(ex.map(one, paths))
        flagged = [(p, rgs) for p, (_, rgs, _) in zip(paths, results) if rgs]
        counts = [e for _, rgs, e in results if rgs]
        expected = None if None in counts else sum(counts)
        return [r for r, _, _ in results], flagged, expected

    def _write_lineage(self, rows: list[dict], batch_id: int) -> None:
        out_dir = f"{self.base}/lineage/batch_id={batch_id}"
        os.makedirs(out_dir, exist_ok=True)
        table = pa.Table.from_pylist(rows, schema=LINEAGE_SCHEMA)
        pq.write_table(table, f"{out_dir}/lineage.parquet")

    # -- readers --------------------------------------------------------------

    def read_committed(self, spark) -> DataFrame:
        """All rows of committed batches (the exactly-once result set)."""
        committed = set(self.committed_batches())
        dirs = [
            f"{self.base}/data/batch_id={b}" for b in sorted(committed)
            if os.path.isdir(f"{self.base}/data/batch_id={b}")
        ]
        if not dirs:
            from maxx_spark.schema import CODE_UNITS

            return spark.createDataFrame([], CODE_UNITS)
        df = spark.read.parquet(*dirs)
        return df.drop("__pid") if "__pid" in df.columns else df

    def read_lineage(self, spark) -> DataFrame:
        """Lineage rows of every written batch (empty when there is none)."""
        dirs = glob.glob(f"{self.base}/lineage/batch_id=*")
        if not dirs:
            from pyspark.sql.pandas.types import from_arrow_schema

            return spark.createDataFrame([], from_arrow_schema(LINEAGE_SCHEMA))
        return spark.read.parquet(*dirs)
