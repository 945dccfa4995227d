"""CANServer v2 as a Spark write format (Python Data Source API,
Spark 4): ``df.write.format("canserver").save(dir)``.

The format is write-only. Logs are read through
``sources/canserver.py:read_canserver`` / ``read_canserver_stream``
(``binaryFile`` + ``mapInPandas``); the stream reader gets replayable
progress from Spark's file-source log.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSource, DataSourceWriter, WriterCommitMessage


class CanServerDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "canserver"

    def writer(self, schema, overwrite: bool) -> "CanServerWriter":
        if overwrite:
            import shutil

            shutil.rmtree(self.options.get("path", ""), ignore_errors=True)
        return CanServerWriter(self.options)


def register(spark) -> None:
    """Make ``df.write.format("canserver")`` available on this session."""
    spark.dataSource.register(CanServerDataSource)


FRAME_WRITE_SCHEMA = (
    "device_id string, ts_us long, frame_id int, bus_id int, payload binary"
)


class CanServerCommit(WriterCommitMessage):
    def __init__(self, files: list[str]):
        self.files = files


class CanServerWriter(DataSourceWriter):
    """Frame-level binary sink: each task encodes its rows back into
    CANServer v2 byte streams, one file per (task, device) under
    ``<path>/<device_id>/part-<pid>.canlog``.

    Timestamp fidelity: a frame's decode-time is sync + 16-bit
    ms-offset (parse_canserver_filtered_log.py:250-252,265), so the
    encoder re-syncs (0xCE) whenever a frame's µs timestamp is not an
    exact ms-multiple offset of the current sync within 65535 ms —
    the written stream decodes to BIT-IDENTICAL timestamps, while
    ms-aligned telemetry costs one sync per ~65 s, matching real
    logger output.

    Scale: tasks write independently (no shuffle — callers partition
    by device/time beforehand if they want file-per-hour layout);
    commit is metadata-only. This is the inverse of ``read_canserver``, so
    bronze can be re-materialized FROM silver — the audit/export path
    object stores need."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("canserver sink requires a path: .save('<dir>')")

    def write(self, iterator) -> "CanServerCommit":
        from pyspark import TaskContext

        from matt3r_data_ingestion_serverless_spark.sources.canserver import (
            encode_frame,
            encode_header,
            encode_sync,
        )

        pid = TaskContext.get().partitionId()
        by_device: dict[str, list] = {}
        for row in iterator:
            by_device.setdefault(row.device_id or "unknown", []).append(
                (int(row.ts_us), int(row.frame_id), int(row.bus_id or 0), bytes(row.payload))
            )
        files: list[str] = []
        for device, rows in by_device.items():
            rows.sort()
            d = os.path.join(self.path, device)
            os.makedirs(d, exist_ok=True)
            out = os.path.join(d, f"part-{pid:05d}.canlog")
            buf = [encode_header()]
            sync_us = None
            for ts_us, frame_id, bus_id, payload in rows:
                off = None if sync_us is None else ts_us - sync_us
                if off is None or off < 0 or off % 1000 != 0 or off // 1000 > 0xFFFF:
                    sync_us = ts_us
                    buf.append(encode_sync(sync_us))
                    off = 0
                buf.append(encode_frame(off // 1000, frame_id, payload, bus_id))
            with open(out, "wb") as fh:
                fh.write(b"".join(buf))
            files.append(out)
        return CanServerCommit(files)

    def commit(self, messages) -> None:
        pass  # files are final on write; readers list the dir

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None:
                for f in getattr(m, "files", []):
                    try:
                        os.remove(f)
                    except OSError:
                        pass
