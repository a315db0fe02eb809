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
reference logs once at EOS: aggregate seconds per stage + frame count,
plus every trigger phase and the state-store metrics.

``frames`` is Spark's ``numInputRows``, which counts every execution of
the micro-batch source: a ``foreachBatch`` body that runs several
actions over its batch (``merge_into`` runs about five) counts each
frame that many times.
"""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQueryListener


class PipelineMetricsListener(StreamingQueryListener):
    # every durationMs phase of a micro-batch but the triggerExecution total
    PHASES = (
        "latestOffset",
        "getBatch",
        "queryPlanning",
        "walCommit",
        "commitOffsets",
        "addBatch",
    )

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
                "state": [
                    (
                        s.numStateStoreInstances,
                        s.numRowsTotal,
                        s.memoryUsedBytes,
                        s.commitTimeMs,
                    )
                    for s in p.stateOperators
                ],
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
        """Seconds summed over triggers: ``total``, ``source`` (getBatch),
        ``work`` (addBatch) and ``<phase>_s`` for each of ``PHASES``;
        ``frames`` (see the module docstring); ``state_commit_s`` summed
        over triggers and stateful operators; ``state_instances``,
        ``state_rows_total`` and ``state_memory_bytes`` over the stateful
        operators of the last trigger."""
        out = {"total": 0.0, "source": 0.0, "work": 0.0, "frames": 0.0}
        out.update({f"{k}_s": 0.0 for k in self.PHASES})
        out["state_commit_s"] = 0.0
        for p in self.progress:
            d = p["duration_ms"]
            out["total"] += d.get("triggerExecution", 0) / 1000.0
            out["source"] += d.get("getBatch", 0) / 1000.0
            out["work"] += d.get("addBatch", 0) / 1000.0
            for k in self.PHASES:
                out[f"{k}_s"] += d.get(k, 0) / 1000.0
            out["frames"] += p["num_input_rows"]
            out["state_commit_s"] += sum(s[3] for s in p["state"]) / 1000.0
        last = self.progress[-1]["state"] if self.progress else []
        for i, k in enumerate(("instances", "rows_total", "memory_bytes")):
            out[f"state_{k}"] = float(sum(s[i] for s in last))
        return out
