"""Streaming metrics — the reference's per-stage wall-clock accumulator
(``exec`` timing dict keyed 'total','tf','cv','np','py','vdms',
gst-detection-tf.py:75-105, logged at EOS :426-433) mapped onto Spark's
StreamingQueryListener progress events.

Stage mapping:
  reference 'total'      → batch durationMs.triggerExecution
  reference 'tf' (model) → durationMs.addBatch (the work)
  reference source read  → durationMs.getBatch
  reference 'frames'     → numInputRows (summed)

``PipelineMetricsListener.summary()`` returns the same shape the
reference logs once at EOS: aggregate seconds per stage + frame count.
"""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQueryListener


class PipelineMetricsListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.terminated = False

    # -- listener callbacks -------------------------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.progress.append(
            {
                "batch_id": p.batchId,
                "num_input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
            }
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        # reference analog: do_last_frame/quit_gracefully EOS hook
        # (gst-detection-tf.py:421-437)
        self.terminated = True

    # -- reference-shaped summary ------------------------------------------
    def summary(self) -> dict[str, float]:
        out = {"total": 0.0, "source": 0.0, "work": 0.0, "frames": 0.0}
        for p in self.progress:
            d = p["duration_ms"]
            out["total"] += d.get("triggerExecution", 0) / 1000.0
            out["source"] += d.get("getBatch", 0) / 1000.0
            out["work"] += d.get("addBatch", 0) / 1000.0
            out["frames"] += p["num_input_rows"]
        return out
