"""The three benchmark workloads, each a closed loop with one client.

A workload generates its inputs from the seed (``generate``), hands them
to the engine (``materialize``), and then runs ops. ``op`` is the
untraced op timed for the end-to-end metrics; ``traced_op`` does the same
work one public layer call at a time, each inside a span, materializing
every layer's output before the next layer reads it. Every op checks the
engine's output against what the generator planted.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass

import gen


class Workload:
    def ops_per_call(self) -> int:
        """Latency samples one call of ``op`` yields."""
        return 1


@dataclass
class OpResult:
    latencies_ms: list  # one per op: a poll, a micro-batch or a dedup pass
    items: int  # points, events or docs processed
    wall_s: float  # timed wall of the op
    planted: int
    recovered: int
    ok: bool  # output passed the workload's correctness check


class MonitorPoll(Workload):
    """Repeated ``PotoosSession.monitor()`` over a fleet of series, as a
    poller runs it: bucketed retrieval, the reference-default
    derivative detector and a percent threshold, collecting both the
    anomaly windows and the per-series metadata."""

    name = "monitor_poll"
    # (metric, span, count) — count None means the span's self time in ms
    layer_metrics = (
        ("api.monitor.build_ms", "api.monitor.build", None),
        ("retrieval.read_series_ms", "operators.retrieval.read_series", None),
        ("retrieval.rows_in", "operators.retrieval.read_series", "retrieval.rows_in"),
        ("retrieval.rows_out", "operators.retrieval.read_series", "retrieval.rows_out"),
        ("detectors.score_ms", "detectors.score", None),
        ("detectors.rows_scored", "detectors.score", "detectors.rows_scored"),
        ("windows.extract_anomalies_ms", "windows.extract_anomalies", None),
        ("windows.anomaly_windows", "windows.extract_anomalies", "windows.anomaly_windows"),
        ("retrieval.series_metadata_ms", "operators.retrieval.series_metadata", None),
    )
    # span whose job group holds one whole untraced op, and ops per span
    op_span, per_batch = "op.untraced", False

    def __init__(self, sizes: dict, run_dir: str):
        self.sizes = sizes

    def generate(self, seed: int) -> str:
        s = self.sizes
        self.data = gen.fleet(seed, s["series"], s["points_per_series"], s["bucket_points"])
        return gen.content_hash(self.data.keys, self.data.ts_ms, self.data.values)

    def materialize(self, spark) -> None:
        import pandas as pd

        from potoos_spark import DetectorConfig, PotoosSession, TimeSeriesConfig

        d = self.data
        pdf = pd.DataFrame({"series_key": d.keys, "ts_ms": d.ts_ms, "value": d.values})
        self.df = spark.createDataFrame(
            pdf, "series_key string, ts_ms bigint, value double"
        ).cache()
        self.df.count()
        self.sess = PotoosSession(spark)
        self.ts_cfg = TimeSeriesConfig(aggregation_type="avg", bucket_size_msec=d.bucket_ms)
        self.det_cfg = DetectorConfig(
            algorithm_name="derivative_detector",
            score_percent_threshold=self.sizes["score_percent_threshold"],
        )

    def _result(self, dt: float, anomalies, meta) -> OpResult:
        windows = {}
        for r in anomalies:
            windows.setdefault(r["series_key"], []).append(
                (r["start_ts_ms"], r["end_ts_ms"])
            )
        recovered = sum(
            any(a <= ts <= b for a, b in windows.get(key, ()))
            for key, ts in self.data.spikes.items()
        )
        keys = [r["series_key"] for r in meta]
        ok = (
            recovered == len(self.data.spikes)
            and len(keys) == len(set(keys))
            and set(keys) == set(self.data.spikes)
        )
        return OpResult(
            [dt * 1000.0], len(self.data.values), dt, len(self.data.spikes), recovered, ok
        )

    def op(self) -> OpResult:
        t0 = time.perf_counter()
        res = self.sess.monitor(self.df, self.ts_cfg, self.det_cfg)
        anomalies = res.anomalies.collect()
        meta = res.meta.collect()
        return self._result(time.perf_counter() - t0, anomalies, meta)

    def traced_op(self, tr, op_id: int) -> OpResult:
        from potoos_spark.detectors.base import score
        from potoos_spark.detectors.windows import extract_anomalies
        from potoos_spark.operators import retrieval

        t0 = time.perf_counter()
        with tr.span("api.monitor.build", op_id):
            self.sess.monitor(self.df, self.ts_cfg, self.det_cfg)
        with tr.span("operators.retrieval.read_series", op_id) as sp:
            points = retrieval.read_series(self.df, self.ts_cfg).persist()
            sp["counts"]["retrieval.rows_in"] = len(self.data.values)
            sp["counts"]["retrieval.rows_out"] = points.count()
        with tr.span("detectors.score", op_id) as sp:
            guarded = retrieval.min_points_guard(points)
            scores = score(guarded, self.det_cfg).persist()
            sp["counts"]["detectors.rows_scored"] = scores.count()
        with tr.span("windows.extract_anomalies", op_id) as sp:
            windows = extract_anomalies(
                scores, None, self.det_cfg.score_percent_threshold
            ).persist()
            anomalies = windows.collect()
            sp["counts"]["windows.anomaly_windows"] = len(anomalies)
        with tr.span("operators.retrieval.series_metadata", op_id):
            meta = retrieval.series_metadata(guarded, windows).collect()
        dt = time.perf_counter() - t0
        for f in (windows, scores, points):
            f.unpersist()
        return self._result(dt, anomalies, meta)


# StreamingQueryProgress.durationMs phases, one value per micro-batch
PROGRESS_PHASES = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
}
PROGRESS_STATE = (
    "streaming.rows_in_per_batch",
    "streaming.state_rows",
    "streaming.state_memory_bytes",
)


class StreamScore(Workload):
    """``score_stream`` over a parquet file source, replayed from a fresh
    checkpoint in fixed-size micro-batches (one file per trigger,
    ``availableNow``) into a memory sink."""

    name = "stream_score"
    layer_metrics = (
        ("streaming.score_stream_ms", "streaming.score_stream", None),
        *((m, "streaming.query", m) for m in (*PROGRESS_PHASES, *PROGRESS_STATE)),
    )
    # micro-batch jobs carry the query's run id as job group; an op is
    # one micro-batch, so span totals are divided by the batch count
    op_span, per_batch = "streaming.query", True
    schema = "series_key string, ts_ms bigint, value double"

    def __init__(self, sizes: dict, run_dir: str):
        self.sizes = sizes
        self.src_dir = os.path.join(run_dir, "stream_src")
        self.ck_root = os.path.join(run_dir, "stream_ck")
        self.n = 0

    def generate(self, seed: int) -> str:
        s = self.sizes
        self.data = gen.stream_source(
            seed, s["series"], s["files"], s["points_per_file"], s["bucket_points"]
        )
        return gen.content_hash(*(c for f in self.data.files for c in f))

    def materialize(self, spark) -> None:
        from potoos_spark import DetectorConfig, TimeSeriesConfig

        shutil.rmtree(self.src_dir, ignore_errors=True)
        shutil.rmtree(self.ck_root, ignore_errors=True)
        gen.write_stream_files(self.data, self.src_dir)
        self.spark = spark
        self.ts_cfg = TimeSeriesConfig(
            aggregation_type="avg", bucket_size_msec=self.data.bucket_ms
        )
        self.det_cfg = DetectorConfig(score_threshold=self.sizes["score_threshold"])

    def ops_per_call(self) -> int:
        return len(self.data.files)

    def _replay(self, build):
        self.n += 1
        name = f"perfbench_stream_{self.n}"
        ck = os.path.join(self.ck_root, str(self.n))
        sdf = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src_dir)
        )
        t0 = time.perf_counter()
        scored = build(sdf)
        q = (
            scored.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        batches = [p for p in q.recentProgress if p.numInputRows > 0]
        out = self.spark.table(name)
        n_rows = out.count()
        flagged = {
            (r["series_key"], r["ts_ms"])
            for r in out.where("is_anomaly").select("series_key", "ts_ms").collect()
        }
        self.spark.catalog.dropTempView(name)
        shutil.rmtree(ck, ignore_errors=True)
        d = self.data
        recovered = sum((k, ts) in flagged for k, ts in d.spikes.items())
        expected_rows = d.n_series * (d.buckets_per_series - 1)
        ok = (
            n_rows == expected_rows
            and recovered == len(d.spikes)
            and len(batches) == len(d.files)
        )
        result = OpResult(
            [p.durationMs["triggerExecution"] for p in batches],
            sum(p.numInputRows for p in batches),
            wall,
            len(d.spikes),
            recovered,
            ok,
        )
        return result, q, batches

    def op(self) -> OpResult:
        from potoos_spark.streaming import score_stream

        return self._replay(lambda sdf: score_stream(sdf, self.ts_cfg, self.det_cfg))[0]

    def traced_op(self, tr, op_id: int) -> OpResult:
        from potoos_spark.streaming import score_stream

        def build(sdf):
            with tr.span("streaming.score_stream", op_id):
                return score_stream(sdf, self.ts_cfg, self.det_cfg)

        with tr.span("streaming.query", op_id) as sp:
            result, q, batches = self._replay(build)
        # Micro-batch jobs run on the stream thread under the query's
        # run id as their job group, not under the span's.
        from layertrace import spark_counts

        sp.update(spark_counts(tr.sc, str(q.runId)))
        sp["stream_group"] = str(q.runId)
        c = sp["counts"]
        c["streaming.batches"] = len(batches)
        for key, phase in PROGRESS_PHASES.items():
            c[key] = [p.durationMs.get(phase, 0) for p in batches]
        c["streaming.rows_in_per_batch"] = [p.numInputRows for p in batches]
        c["streaming.state_rows"] = [
            sum(s.numRowsTotal for s in p.stateOperators) for p in batches
        ]
        c["streaming.state_memory_bytes"] = [
            sum(s.memoryUsedBytes for s in p.stateOperators) for p in batches
        ]
        return result


class CorpusDedup(Workload):
    """Repeated ``fuzzy_dedup_e2e`` over a corpus with planted
    near-duplicate clusters. Each pass starts from an empty cache with
    the corpus re-materialized, outside the timed region."""

    name = "corpus_dedup"
    layer_metrics = (
        ("text.shingle_frame_ms", "text.shingle_frame", None),
        ("text.shingles", "text.shingle_frame", "text.shingles"),
        ("dedup.minhash_signatures_ms", "dedup.minhash_signatures", None),
        ("dedup.lsh_candidate_pairs_ms", "dedup.lsh_candidate_pairs", None),
        ("dedup.candidate_pairs", "dedup.lsh_candidate_pairs", "dedup.candidate_pairs"),
        ("dedup.minhash_dedup_pairs_ms", "dedup.minhash_dedup_pairs", None),
        ("dedup.verified_pairs", "dedup.minhash_dedup_pairs", "dedup.verified_pairs"),
        ("dedup.verify_yield", "dedup.minhash_dedup_pairs", "dedup.verify_yield"),
        ("dedup.edge_components_ms", "dedup.edge_components", None),
        ("dedup.components", "dedup.edge_components", "dedup.components"),
        ("dedup.capped_pagerank_ms", "dedup.capped_pagerank", None),
    )
    op_span, per_batch = "op.untraced", False

    def __init__(self, sizes: dict, run_dir: str):
        self.sizes = sizes

    def generate(self, seed: int) -> str:
        s = self.sizes
        self.data = gen.corpus(
            seed,
            s["singletons"],
            s["decoy_pairs"],
            s["clusters"],
            s["cluster_size"],
            s["words_per_doc"],
        )
        return gen.content_hash(self.data.ids, self.data.texts)

    def materialize(self, spark) -> None:
        import pandas as pd

        self.spark = spark
        self.pdf = pd.DataFrame({"doc_id": self.data.ids, "text": self.data.texts})
        self._load()

    def _load(self) -> None:
        self.spark.catalog.clearCache()
        self.df = self.spark.createDataFrame(self.pdf, "doc_id bigint, text string").cache()
        self.df.count()

    def _result(self, dt: float, components: dict) -> OpResult:
        """``components`` maps a component id to its member count. Every
        planted cluster must be one whole component (whose id is its
        smallest member), and every other doc a component of its own."""
        clusters = self.data.clusters
        recovered = sum(components.get(c[0]) == len(c) for c in clusters)
        n_singletons = len(self.data.ids) - sum(len(c) for c in clusters)
        multi = {k: n for k, n in components.items() if n > 1}
        ok = (
            recovered == len(clusters)
            and multi == {c[0]: len(c) for c in clusters}
            and len(components) == n_singletons + len(clusters)
        )
        return OpResult([dt * 1000.0], len(self.data.ids), dt, len(clusters), recovered, ok)

    def op(self) -> OpResult:
        from potoos_spark.operators.dedup import fuzzy_dedup_e2e

        self._load()
        t0 = time.perf_counter()
        rows = fuzzy_dedup_e2e(self.df).collect()
        dt = time.perf_counter() - t0
        return self._result(dt, {r["component"]: r["n_members"] for r in rows})

    def traced_op(self, tr, op_id: int) -> OpResult:
        from pyspark.sql import functions as F

        from potoos_spark.operators.dedup import (
            capped_pagerank,
            edge_components,
            lsh_candidate_pairs,
            minhash_dedup_pairs,
            minhash_signatures,
            shingle_frame,
        )

        self._load()
        t0 = time.perf_counter()
        with tr.span("text.shingle_frame", op_id) as sp:
            sh = shingle_frame(self.df).persist()
            sp["counts"]["text.shingles"] = sh.count()
        with tr.span("dedup.minhash_signatures", op_id):
            sig = minhash_signatures(sh).persist()
            sig.count()
        with tr.span("dedup.lsh_candidate_pairs", op_id) as sp:
            cand = lsh_candidate_pairs(sig).persist()
            n_cand = cand.count()
            sp["counts"]["dedup.candidate_pairs"] = n_cand
        with tr.span("dedup.minhash_dedup_pairs", op_id) as sp:
            # checkpointed as fuzzy_dedup_e2e does, so the graph layers
            # below see the same short lineage
            pairs = minhash_dedup_pairs(self.df).localCheckpoint(eager=True)
            n_ver = pairs.count()
            sp["counts"]["dedup.verified_pairs"] = n_ver
            sp["counts"]["dedup.verify_yield"] = n_ver / n_cand if n_cand else 0.0
        ids = self.df.select("doc_id")
        with tr.span("dedup.edge_components", op_id) as sp:
            comp = edge_components(ids, pairs).collect()
            sizes = Counter(r["component"] for r in comp)
            sp["counts"]["dedup.components"] = len(sizes)
        with tr.span("dedup.capped_pagerank", op_id):
            capped_pagerank(
                ids, pairs.select("id_a", "id_b", (-F.col("jaccard")).alias("__ord"))
            ).count()
        dt = time.perf_counter() - t0
        result = self._result(dt, sizes)
        # Exact membership, which the end-to-end output (one row per
        # component) cannot show: each cluster's members share one label.
        members = {r["doc_id"]: r["component"] for r in comp}
        result.ok = result.ok and all(
            {members[i] for i in c} == {c[0]} for c in self.data.clusters
        )
        return result


WORKLOADS = {w.name: w for w in (MonitorPoll, StreamScore, CorpusDedup)}
