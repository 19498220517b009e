"""Workload definitions: query mixes, the query -> module map, the
row-count checks of queries without a DuckDB twin, and the streaming
backlog of ``series_fdi``.

Each workload is a batch mix of registry queries (``plans.registry.QUERIES``)
written to the ``noop`` sink; ``series_fdi`` follows it with one drain of a
fixed backlog through ``streaming.streaming_kalman_1d``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# query -> the library module whose code it exercises (per-module wall
# time): one query per module, the cheapest with a DuckDB twin
# (``plans.registry.ORACLES``) where the module has one. The exception is
# ngram_jaccard_pairs: it is the one query here that localCheckpoints, so
# the checkpoint layer stays measured.
QUERY_MODULE = {
    "moving_average_valid": "operators.filters",
    "minmax_scaler": "operators.scalers",
    "segment_windows": "operators.segmenters",
    "kalman1d_filter": "operators.recurrences",
    "page_hinkley_drift": "operators.drift",
    "series_profile": "operators.analytics",
    "spectral_windows": "operators.spectral",
    "observer_sliding_events": "observers",
    "forecast_predict_lstm": "forecasting",
    "fdi_pipeline": "plans.fdi_pipeline",
    "ngram_jaccard_pairs": "pipelines.dedup",
    "readability": "pipelines.text",
    "quota_sample": "pipelines.curation",
    "cosine_topk": "pipelines.similarity",
    "cosine_topk_q8": "pipelines.quantization",
    "embedding_kmeans": "pipelines.clustering",
    "kn_perplexity": "pipelines.lm",
    "rf_classify_embeddings": "ml.detectors",
}
MODULES = tuple(dict.fromkeys(QUERY_MODULE.values()))

_SERIES_N = "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type"

# Queries without a DuckDB twin (approximate or model-based outputs): their
# schema and their row count, the count as DuckDB SQL over the same inputs.
ROWS_ONLY = {
    "spectral_windows": (
        "struct<series_id:string,window_id:bigint,window_start:bigint,"
        "dominant_freq:double,spectral_entropy:double,total_power:double,"
        "band:int,energy:double>",
        # 64-sample windows every 32 samples, last partial dropped; 4 bands
        f"SELECT SUM(CASE WHEN n >= 64 THEN ((n - 64) // 32 + 1) * 4 ELSE 0 END) "
        f"FROM ({_SERIES_N})",
    ),
    "forecast_predict_lstm": (
        "struct<series_id:string,window_start:bigint,yhat1:double,yhat2:double>",
        # every 4th sample, 20 + 2 sample windows, every 5th window start
        f"SELECT SUM(CASE WHEN (n + 3) // 4 >= 22 THEN ((n + 3) // 4 - 22) // 5 + 1 "
        f"ELSE 0 END) FROM ({_SERIES_N})",
    ),
    "rf_classify_embeddings": (
        "struct<vec_id:bigint,pred_label:double>",
        # trained on even vec_ids, predicts the odd ones
        "SELECT COUNT(*) FROM embeddings WHERE vec_id % 2 = 1",
    ),
}

WORKLOADS = {
    "series_fdi": {
        "queries": [
            "moving_average_valid", "minmax_scaler", "segment_windows",
            "kalman1d_filter", "page_hinkley_drift", "series_profile",
            "spectral_windows", "observer_sliding_events",
            "forecast_predict_lstm", "fdi_pipeline",
        ],
        "tables": ["events"],
        "stream": True,
        # timed rounds of the query mix: the first is still JIT-settling
        # (its process-tree CPU is about a quarter above the next ones'),
        # so each query's median comes from the later two
        "rounds": 3,
    },
    "corpus_curation": {
        "queries": [
            "ngram_jaccard_pairs", "readability", "quota_sample", "cosine_topk",
            "cosine_topk_q8", "embedding_kmeans", "kn_perplexity",
            "rf_classify_embeddings",
        ],
        "tables": ["documents", "embeddings"],
        "stream": False,
        # its cold pass is the longer one: one round fits the run budget
        "rounds": 1,
    },
}

KALMAN_Q, KALMAN_R = 0.5, 2.0
STREAM_SCHEMA = "series_id string, ts long, value double"


def write_backlog(data_dir: str, out_dir: str) -> pd.DataFrame:
    """The backlog the Kalman stream drains, written as one parquet file
    (one trigger): the canonical events series of
    ``sources.tables.events_series``, where the series id is the event type
    and ts the 0-based rank by event time, then event id."""
    ev = pq.read_table(os.path.join(data_dir, "events.parquet")).to_pandas()
    ev = ev.sort_values(["ts", "event_id"], kind="stable")
    frame = pd.DataFrame(
        {
            "series_id": ev["event_type"].to_numpy(),
            "ts": ev.groupby("event_type").cumcount().to_numpy(dtype=np.int64),
            "value": ev["value"].to_numpy(dtype=np.float64),
        }
    )
    os.makedirs(out_dir)
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False),
                   os.path.join(out_dir, "backlog.parquet"))
    return frame


def kalman_replay(frame: pd.DataFrame) -> dict[tuple[str, int], float]:
    """The scalar random-walk Kalman filter run sequentially per series:
    the expected output of the streaming operator."""
    out = {}
    for sid, g in frame.sort_values("ts").groupby("series_id"):
        x, p = None, 1.0
        for ts, z in zip(g["ts"].to_numpy(), g["value"].to_numpy()):
            if x is None:
                x = z
            else:
                p_pred = p + KALMAN_Q
                k = p_pred / (p_pred + KALMAN_R)
                x = x + k * (z - x)
                p = (1 - k) * p_pred
            out[(sid, int(ts))] = x
    return out
