"""Exactly-once ``foreachBatch`` sink with per-partition lineage, metrics and
a DLQ (dead-letter) side channel.

``foreachBatch`` is at-least-once on retry; exactly-once is achieved the way
an Iceberg/Delta MERGE sink does it — idempotent, transactional commits keyed
by epoch id:

1. the epoch's rows are (over)written to an epoch-scoped data location —
   a retry of the same epoch overwrites the same location, never appends;
2. a commit marker (JSON, atomic rename) is written LAST; readers only see
   epochs with markers, so a crash between data-write and commit leaves no
   visible partial output;
3. a replayed epoch whose marker already exists is skipped entirely.

The commit marker carries lineage + metrics per north_rule: per-FILE row
counts read from the written parquet footers (pyarrow metadata) AFTER the
write, so lineage describes exactly the committed data — the batch plan
executes ONCE; there is no pre-write counting action. In production the same
structure is an Iceberg snapshot summary; here it is a parquet-dir + JSON
commit log (no Iceberg jars in this sandbox — the protocol is identical).

DLQ (≙ reference ``src/core/error/dlq.rs:19-76`` + ``handler.rs`` error
routing): a sink constructed with ``dlq_condition`` quarantines matching
rows to ``_dlq/epoch=N`` instead of dropping or failing on them; the commit
marker records ``dlq_rows`` so lineage conserves the batch (rows + dlq_rows
== input rows). The batch is persisted across the two writes, so the
upstream plan still executes once.

≙ reference UPSERT/table-DML path (``upsert_table_processor.rs:19``) and the
snapshot-persistence contract (``src/core/persistence/snapshot_service.rs``)
re-expressed on Spark's epoch model.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _footer_lineage(data_dir: str) -> list[dict]:
    """Per-file row counts from the written parquet footers (metadata-only
    reads — no data scan, no second job)."""
    out = []
    files = sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))
    for i, fname in enumerate(files):
        n = pq.ParquetFile(os.path.join(data_dir, fname)).metadata.num_rows
        out.append({"partition_id": i, "file": fname, "rows": int(n)})
    return out


class ExactlyOnceParquetSink:
    def __init__(self, table_dir: str, dlq_condition: "Column | str | None" = None):
        self.table_dir = table_dir
        self.data_dir = os.path.join(table_dir, "data")
        self.commit_dir = os.path.join(table_dir, "_commits")
        self.dlq_dir = os.path.join(table_dir, "_dlq")
        self.dlq_condition = dlq_condition
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.commit_dir, exist_ok=True)

    # -- write path ----------------------------------------------------------

    def _commit_path(self, epoch_id: int) -> str:
        return os.path.join(self.commit_dir, f"{epoch_id:020d}.json")

    def is_committed(self, epoch_id: int) -> bool:
        return os.path.exists(self._commit_path(epoch_id))

    def write_batch(self, df: DataFrame, epoch_id: int) -> None:
        if self.is_committed(epoch_id):
            return  # replayed epoch — exactly-once guard
        t0 = time.time()
        epoch_dir = os.path.join(self.data_dir, f"epoch={epoch_id}")
        dlq_lineage: list[dict] = []
        if self.dlq_condition is not None:
            bad = (
                F.expr(self.dlq_condition)
                if isinstance(self.dlq_condition, str)
                else self.dlq_condition
            )
            dlq_epoch_dir = os.path.join(self.dlq_dir, f"epoch={epoch_id}")
            # persist so the two filtered writes share ONE upstream compute
            df = df.persist()
            try:
                df.filter(~bad).write.mode("overwrite").parquet(epoch_dir)
                df.filter(bad).write.mode("overwrite").parquet(dlq_epoch_dir)
                dlq_lineage = _footer_lineage(dlq_epoch_dir)
            finally:
                df.unpersist()
        else:
            df.write.mode("overwrite").parquet(epoch_dir)
        # lineage AFTER the write, from the committed files' own footers
        lineage = _footer_lineage(epoch_dir)
        commit = {
            "epoch_id": epoch_id,
            "rows": sum(p["rows"] for p in lineage),
            "partitions": lineage,
            "dlq_rows": sum(p["rows"] for p in dlq_lineage),
            "duration_s": round(time.time() - t0, 3),
            "committed_at": time.time(),
        }
        tmp = self._commit_path(epoch_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(commit, f)
        os.rename(tmp, self._commit_path(epoch_id))  # atomic publish

    def foreach_batch(self):
        return lambda df, epoch_id: self.write_batch(df, epoch_id)

    # -- read path -----------------------------------------------------------

    def committed_epochs(self) -> list[int]:
        return sorted(
            int(f.split(".")[0]) for f in os.listdir(self.commit_dir)
            if f.endswith(".json") and not f.startswith("segment_")
        )

    def commits(self) -> list[dict]:
        out = []
        for e in self.committed_epochs():
            with open(self._commit_path(e)) as f:
                out.append(json.load(f))
        return out

    # -- compaction (the streaming small-files problem) -----------------------
    # A micro-batch sink accumulates one directory (and >=1 file) per epoch;
    # at production cadence that is thousands of small files per day — the
    # classic downstream-scan killer. compact() folds all committed epochs
    # up to a high-water mark into one coalesced segment under the SAME
    # atomic-marker protocol as epochs: write segment data, THEN publish the
    # marker; a crash mid-compaction leaves an invisible orphan, readers
    # keep serving the raw epochs. read() resolves the latest committed
    # segment + the epochs above its high-water mark, so compaction is
    # fully concurrent with ongoing appends and repeatable (Iceberg's
    # rewrite_data_files contract).

    def _segment_marker(self, seg_id: int) -> str:
        return os.path.join(self.commit_dir, f"segment_{seg_id:020d}.json")

    def committed_segments(self) -> list[dict]:
        out = []
        for f in sorted(os.listdir(self.commit_dir)):
            if f.startswith("segment_") and f.endswith(".json"):
                with open(os.path.join(self.commit_dir, f)) as fh:
                    out.append(json.load(fh))
        return out

    def compact(self, spark: SparkSession, target_files: int = 1) -> dict:
        """Fold every committed epoch (and any previous segment) below the
        current high-water mark into one ``target_files``-file segment.
        Returns the published segment marker. Raises ``ValueError`` when no
        epoch was committed after the latest segment: the new segment would
        get the latest one's id and overwrite the very data it reads."""
        epochs = self.committed_epochs()
        if not epochs:
            raise ValueError("nothing to compact")
        hwm = epochs[-1]
        seg_id = hwm + 1
        # fold EXACTLY the snapshot taken above: latest committed segment +
        # the epochs in (segment hwm, this hwm]. Calling self.read() here
        # would re-list committed epochs, so an epoch committed while the
        # segment is being written would be folded in while the marker
        # records covers_epochs_through=hwm — subsequent reads would then
        # return that epoch twice (segment + its epoch dir) (ADVICE r5).
        segs = self.committed_segments()
        floor_epoch = -1
        paths = []
        if segs:
            latest = segs[-1]
            floor_epoch = latest["covers_epochs_through"]
            if hwm <= floor_epoch:
                raise ValueError("nothing to compact")
            paths.append(
                os.path.join(self.data_dir, f"segment={latest['segment_id']}")
            )
        paths.extend(
            os.path.join(self.data_dir, f"epoch={e}")
            for e in epochs
            if floor_epoch < e <= hwm
        )
        paths = [p for p in paths if os.path.isdir(p)]
        if not paths:
            raise ValueError("nothing to compact")
        df = spark.read.parquet(*paths)
        seg_dir = os.path.join(self.data_dir, f"segment={seg_id}")
        t0 = time.time()
        df.coalesce(target_files).write.mode("overwrite").parquet(seg_dir)
        lineage = _footer_lineage(seg_dir)
        marker = {
            "segment_id": seg_id,
            "covers_epochs_through": hwm,
            "rows": sum(p["rows"] for p in lineage),
            "partitions": lineage,
            "duration_s": round(time.time() - t0, 3),
            "committed_at": time.time(),
        }
        tmp = self._segment_marker(seg_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(marker, f)
        os.rename(tmp, self._segment_marker(seg_id))  # atomic publish
        return marker

    def read(self, spark: SparkSession) -> DataFrame:
        """Read ONLY committed data: the latest committed segment (if any)
        plus the committed epochs ABOVE its high-water mark."""
        segs = self.committed_segments()
        floor_epoch = -1
        paths = []
        if segs:
            latest = segs[-1]
            floor_epoch = latest["covers_epochs_through"]
            paths.append(
                os.path.join(self.data_dir, f"segment={latest['segment_id']}")
            )
        paths.extend(
            os.path.join(self.data_dir, f"epoch={e}")
            for e in self.committed_epochs()
            if e > floor_epoch
        )
        paths = [p for p in paths if os.path.isdir(p)]
        if not paths:
            raise ValueError(f"no committed epochs in {self.table_dir}")
        return spark.read.parquet(*paths)

    def read_dlq(self, spark: SparkSession) -> DataFrame:
        """Quarantined rows of committed epochs (the dead-letter channel)."""
        paths = [
            os.path.join(self.dlq_dir, f"epoch={e}")
            for e in self.committed_epochs()
        ]
        paths = [p for p in paths if os.path.isdir(p)]
        if not paths:
            raise ValueError(f"no committed DLQ epochs in {self.table_dir}")
        return spark.read.parquet(*paths)

    def metrics(self) -> dict:
        cs = self.commits()
        return {
            "epochs": len(cs),
            "total_rows": sum(c["rows"] for c in cs),
            "total_dlq_rows": sum(c.get("dlq_rows", 0) for c in cs),
            "total_duration_s": round(sum(c["duration_s"] for c in cs), 3),
        }


class MergeUpsertParquetSink:
    """Exactly-once streaming MERGE (UPSERT) sink — the streaming twin of
    ``operators/dml.merge_upsert`` and of the reference's stream-driven
    UPSERT (``upsert_table_processor.rs:14-19``).

    Each micro-batch MERGEs into the table: last update per key (by
    ``order_col``) replaces the matching row or inserts a new one. Commits
    are epoch-versioned snapshots — a retry of the same epoch is skipped
    (marker exists) and a crash between data write and marker leaves an
    orphan version directory readers never see (reads resolve the LATEST
    committed version). In production the identical protocol is an Iceberg
    MERGE snapshot; here each version is a parquet dir + JSON marker.
    """

    def __init__(self, table_dir: str, keys: list[str], order_col: str):
        self.table_dir = table_dir
        self.keys = list(keys)
        self.order_col = order_col
        self.data_dir = os.path.join(table_dir, "data")
        self.commit_dir = os.path.join(table_dir, "_commits")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.commit_dir, exist_ok=True)

    def _commit_path(self, epoch_id: int) -> str:
        return os.path.join(self.commit_dir, f"{epoch_id:020d}.json")

    def is_committed(self, epoch_id: int) -> bool:
        return os.path.exists(self._commit_path(epoch_id))

    def commits(self) -> list[dict]:
        out = []
        for f in sorted(os.listdir(self.commit_dir)):
            if f.endswith(".json"):
                with open(os.path.join(self.commit_dir, f)) as fh:
                    out.append(json.load(fh))
        return out

    def _latest_version(self) -> int | None:
        cs = self.commits()
        return max((c["version"] for c in cs), default=None)

    def write_batch(self, df: DataFrame, epoch_id: int) -> None:
        from ..operators.dml import merge_upsert

        if self.is_committed(epoch_id):
            return
        t0 = time.time()
        latest = self._latest_version()
        version = (latest or 0) + 1
        out_dir = os.path.join(self.data_dir, f"version={version}")
        if latest is None:
            # first epoch: the batch itself (last per key) is the table —
            # max_by hash agg, same skew-safe form as merge_upsert
            val_cols = [
                c for c in df.columns if c not in (*self.keys, self.order_col)
            ]
            merged = df.groupBy(*self.keys).agg(
                *[F.max_by(c, F.col(self.order_col)).alias(c) for c in val_cols]
            )
        else:
            current = df.sparkSession.read.parquet(
                os.path.join(self.data_dir, f"version={latest}")
            )
            merged = merge_upsert(current, df, self.keys, self.order_col)
        merged.write.mode("overwrite").parquet(out_dir)
        lineage = _footer_lineage(out_dir)
        commit = {
            "epoch_id": epoch_id,
            "version": version,
            "rows": sum(p["rows"] for p in lineage),
            "partitions": lineage,
            "duration_s": round(time.time() - t0, 3),
            "committed_at": time.time(),
        }
        tmp = self._commit_path(epoch_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(commit, f)
        os.rename(tmp, self._commit_path(epoch_id))

    def foreach_batch(self):
        return lambda df, epoch_id: self.write_batch(df, epoch_id)

    def read(self, spark: SparkSession) -> DataFrame:
        latest = self._latest_version()
        if latest is None:
            raise ValueError(f"no committed versions in {self.table_dir}")
        return spark.read.parquet(
            os.path.join(self.data_dir, f"version={latest}")
        )
