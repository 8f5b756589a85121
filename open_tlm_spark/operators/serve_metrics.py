"""Serving observability for the ANN store (VERDICT r12 "Next
round" #5).

At 100x scale a silently-thin filtered result is an operational
incident, not a UserWarning in a driver log: the depth cap is a
designed boundary (`topk_rerank(max_r=...)`), so the operator needs
to SEE how often it binds and how many rows each batch actually
returned. This module keeps process-local counters for the serving
paths and publishes them as first-class telemetry series through the
store's normal ingest — the same counters-sampled-into-the-store
split as the engine's own metrics loop
(`streaming/ingest.start_metrics_stream`, mirroring the reference's
poll/flush loop at src/metrics/loop.py:59-61).

Two kinds of signal, both zero-cost on the query plan's hot path:

* **Event counters** — batches served, depth-cap hits, >32x depth
  inflations, unresolvable-predicate fallbacks. Incremented
  driver-side at the exact points the warnings fire; plain ints.
* **Result-size metrics** — returned rows and (approximate) queries
  served per batch, measured by attaching `DataFrame.observe` to the
  returned top-k frame: a CollectMetrics node that aggregates
  map-side during the action the CALLER runs — no extra job, no
  shuffle, and nothing happens if the result is never materialized.
  Harvesting is non-blocking (`getRowOrEmpty` on the JVM
  observation), so pending observations from lazy results are simply
  not counted yet.

A batch whose observed `returned_rows < k * queries_served` is a
THIN batch — the serve-side face of the depth-cap warning — counted
as `rerank.thin_batches` with the shortfall in
`rerank.missing_rows`. `queries_served` is an HLL approximation
(rsd=0.01; exact in practice at serving batch sizes) because
observed metrics cannot use distinct aggregates.
"""

from __future__ import annotations

import datetime as _dt
import threading

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Pending-observation backlog cap: results that are never collected
# (a caller builds a plan and drops it) would otherwise accrete
# observation handles forever on a long-lived serving host.
_MAX_PENDING = 256


def _row_or_none(obs: Observation):
    """The observed metrics row if the observed dataset has finished
    an action, else None — NON-blocking (pyspark's `Observation.get`
    waits for the first action, which would hang a metrics flush on
    a never-collected plan). Uses the same JVM accessors `get` does,
    one step earlier in the chain; degrades to None (uncounted, not
    broken serving) if those internals shift."""
    try:
        jo = obs._jo
        if jo is None:
            return None
        jopt = jo.getRowOrEmpty()
        if not jopt.isDefined():
            return None
        from pyspark.serializers import CPickleSerializer

        utils = getattr(
            obs._jvm, "org.apache.spark.sql.api.python.PythonSQLUtils"
        )
        return CPickleSerializer().loads(utils.toPyRow(jopt.get()))
    except Exception:  # pragma: no cover - JVM internals drifted
        return None


class ServeMetrics:
    """Process-local serving counters + observation harvesting.

    Thread-safe (a serving host answers concurrent batches); one
    module-level instance (`SERVE_METRICS`) is the default sink the
    serve paths increment. Counters are monotone within a process —
    published as gauge samples, so the stored series is cumulative
    (rate/delta is a query-side derivative, exactly like the
    reference's num_puts/num_gets series)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._counts: dict[str, float] = {}
        self._pending: list[tuple[Observation, int]] = []

    # ------------------------------------------------------- recording
    def inc(self, name: str, by: float = 1.0) -> None:
        with self._lock:
            self._counts[name] = self._counts.get(name, 0.0) + by

    def observe_queries(
        self, q: DataFrame
    ) -> tuple[DataFrame, Observation]:
        """Attach a row-count observation to the one-row-per-query
        routing frame — the EXACT requested-query count, measured in
        the same action as the result (the frame is the broadcast
        side of the refine join). This is what makes fully-starved
        queries visible: a query returning ZERO rows is absent from
        the result frame, so a result-side count alone understates
        the shortfall."""
        obs = Observation()
        return (
            q.observe(
                obs, F.count(F.lit(1)).alias("queries_requested")
            ),
            obs,
        )

    def observe_topk(
        self,
        df: DataFrame,
        k: int,
        queries_obs: Observation | None = None,
        prefix: str = "rerank",
    ) -> DataFrame:
        """Attach a result-size observation to a top-k result frame.
        Returns the SAME rows (CollectMetrics is pass-through); the
        metrics materialize whenever the caller's first action runs.
        `queries_obs` (from `observe_queries`) supplies the exact
        requested-query count for the shortfall arithmetic; `prefix`
        names the serve path ("rerank" for IVFADC+refine, "topk" for
        the flat/SQ8 filtered probes)."""
        obs = Observation()
        out = df.observe(
            obs,
            F.count(F.lit(1)).alias("returned_rows"),
            F.approx_count_distinct("query_id", 0.01).alias(
                "queries_served"
            ),
        )
        with self._lock:
            self._pending.append((obs, queries_obs, int(k), str(prefix)))
            if len(self._pending) > _MAX_PENDING:
                self._pending.pop(0)
                self._counts["observations_dropped"] = (
                    self._counts.get("observations_dropped", 0.0) + 1.0
                )
        return out

    # ------------------------------------------------------ harvesting
    def _drain(self) -> None:
        """Fold every COMPLETED pending observation into the counters;
        observations whose action has not run yet stay pending."""
        with self._lock:
            pending, self._pending = self._pending, []
        still: list[
            tuple[Observation, Observation | None, int, str]
        ] = []
        done: list[tuple[int, int, int, int, str]] = []
        for obs, qobs, k, prefix in pending:
            row = _row_or_none(obs)
            if row is None:
                still.append((obs, qobs, k, prefix))
                continue
            served = int(row["queries_served"])
            # exact requested-query count when the routing frame was
            # observed (it completes in the same action); fall back to
            # the served approximation otherwise — which cannot see
            # fully-starved queries, so the exact count is what makes
            # a zero-row query show up in missing_rows.
            qrow = _row_or_none(qobs) if qobs is not None else None
            requested = (
                int(qrow["queries_requested"]) if qrow else served
            )
            done.append(
                (int(row["returned_rows"]), served, requested, k, prefix)
            )
        with self._lock:
            self._pending = still + self._pending
            for returned, queries, requested, k, prefix in done:
                want = k * requested
                self._counts[f"{prefix}.result_rows"] = (
                    self._counts.get(f"{prefix}.result_rows", 0.0)
                    + returned
                )
                self._counts[f"{prefix}.queries_served"] = (
                    self._counts.get(f"{prefix}.queries_served", 0.0)
                    + queries
                )
                self._counts[f"{prefix}.queries_requested"] = (
                    self._counts.get(f"{prefix}.queries_requested", 0.0)
                    + requested
                )
                if returned < want:
                    self._counts[f"{prefix}.thin_batches"] = (
                        self._counts.get(f"{prefix}.thin_batches", 0.0)
                        + 1.0
                    )
                    self._counts[f"{prefix}.missing_rows"] = (
                        self._counts.get(f"{prefix}.missing_rows", 0.0)
                        + (want - returned)
                    )

    def snapshot(self) -> dict[str, float]:
        """Harvest completed observations, then return a copy of the
        counters."""
        self._drain()
        with self._lock:
            return dict(self._counts)

    def reset(self) -> None:
        with self._lock:
            self._counts.clear()
            self._pending.clear()

    # ------------------------------------------------------ publishing
    def flush_to_store(
        self, store, ts: _dt.datetime, prefix: str = "tlm.serve"
    ) -> int:
        """Publish the counters as telemetry points through the
        store's normal ingest (one gauge sample per counter series,
        stamped `ts`) — `<prefix>.rerank.thin_batches` etc. become
        queryable series exactly like the ingest loop's
        `tlm.metrics.num_puts`. Returns the number of series
        published. Wire it into the maintenance cadence (or the
        metrics stream's foreachBatch) on a serving host."""
        from open_tlm_spark.store.tsdb import _epoch_us, _points_table

        snap = sorted(self.snapshot().items())
        if not snap:
            return 0
        batch = _points_table(
            [f"{prefix}.{name}" for name, _ in snap],
            [_epoch_us(ts)] * len(snap),
            [float(value) for _, value in snap],
        )
        store.put(batch, _count=False)
        return len(snap)


SERVE_METRICS = ServeMetrics()
