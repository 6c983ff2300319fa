"""The ``agg`` stage of ``pipeline_chain``: the streaming revenue aggregate.

``streaming.windowed.revenue_window_agg`` (60-minute tumbling windows,
update mode, no watermark) reads one generated parquet file per trigger
into a memory sink until every file is read. A ``StreamingQueryListener``
keeps every micro-batch's progress (``recentProgress`` holds only the
last 100). The last value the sink holds per window must equal the same
aggregate run as a batch over the same files.
"""

from __future__ import annotations

import os
import threading
import time

import gen
import harness


class ProgressLog:
    """Collects ``onQueryProgress`` events of one query."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.progress: list[dict] = []
        self.lock = threading.Lock()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "seen": time.perf_counter(),
                    "run_id": str(p.runId),
                    "batch_id": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state": [
                        {
                            "rows": s.numRowsTotal,
                            "bytes": s.memoryUsedBytes,
                            "commit_ms": s.commitTimeMs,
                        }
                        for s in p.stateOperators
                    ],
                }
                with log.lock:
                    log.progress.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()

    def batches(self, run_id: str) -> list[dict]:
        with self.lock:
            return [p for p in self.progress if p["run_id"] == run_id and p["rows"] > 0]


def start(spark, src: str, checkpoint: str, name: str):
    from scala_data_pipeline_spark.streaming.windowed import revenue_window_agg

    events = (
        spark.readStream.schema(gen.STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return (
        revenue_window_agg(events)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .start()
    )


def check(spark, name: str, files: list[str]) -> str | None:
    """None when the sink's last value per window equals the batch
    aggregate over ``files``, else the reason."""
    from pyspark.sql import functions as F

    from scala_data_pipeline_spark.streaming.windowed import revenue_window_agg

    cols = ("visitors", "purchases", "revenue", "aov")
    # Without a watermark every emitted row of a window supersedes the
    # previous one and its counts and revenue never decrease, so the
    # largest (visitors, purchases, revenue, aov) is the last one.
    last = spark.table(name).groupBy("window_start", "window_end").agg(
        F.max(F.struct(*cols)).alias("v")
    ).select("window_start", "window_end", *[f"v.{c}" for c in cols])
    batch = revenue_window_agg(
        spark.read.schema(gen.STREAM_SCHEMA).parquet(*files)
    ).select("window_start", "window_end", *cols)
    got, want = sorted(last.collect()), sorted(batch.collect())
    if got != want:
        diff = [(g, w) for g, w in zip(got, want) if g != w][:3]
        return f"{len(got)} vs {len(want)} windows; first differences {diff}"
    return None


def stage(spark, files: list[str], checkpoint: str, name: str) -> str:
    """Run the aggregate over ``files`` (in the order they arrive) to the
    end and stop; returns the query's run id."""
    query = start(spark, os.path.dirname(files[0]), checkpoint, name)
    query.processAllAvailable()
    query.stop()
    return str(query.runId)


def layers(batches: list[dict], tasks: int) -> dict:
    """The streaming layer's figures: medians over the micro-batches,
    the state store as the last batch left it."""
    def med(key: str) -> float:
        return harness.quantile([p["duration_ms"].get(key, 0) for p in batches] or [0], 50)

    last = batches[-1]["state"][0] if batches and batches[-1]["state"] else {}
    return {
        "streaming.trigger_ms": med("triggerExecution"),
        "streaming.add_batch_ms": med("addBatch"),
        "streaming.wal_ms": med("walCommit"),
        "streaming.planning_ms": med("queryPlanning"),
        "streaming.state_rows": last.get("rows", 0),
        "streaming.state_bytes": last.get("bytes", 0),
        "streaming.state_commit_ms": harness.quantile(
            [p["state"][0]["commit_ms"] for p in batches if p["state"]] or [0], 50
        ),
        "streaming.tasks_per_batch": tasks / max(1, len(batches)),
    }
