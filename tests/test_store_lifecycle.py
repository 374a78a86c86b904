"""Store-contract tests shared by every path-keyed ``ensure_*`` store.

Each store runs the same five steps: build -> reuse -> a param change
rebuilds -> a truncated sidecar rebuilds (and does not raise) -> a failed
build leaves no ``__build_*`` scratch and the committed store readable.

Inputs are written to parquet under ``tmp_path``: an in-memory frame has
no content identity, digests to a per-call sentinel and never reuses
(``util.dataset_digest``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import pytest

from etlutil_spark.operators.clustering import ensure_ivfadc_index
from etlutil_spark.operators.dedup import ensure_cluster_store, ensure_minhash_store
from etlutil_spark.operators.similarity import ensure_ivf_store
from etlutil_spark.operators.sketch import ensure_hist_store
from etlutil_spark.operators.text_analysis import (
    ensure_postings_store,
    ensure_quality_store,
)

_TEXTS = [
    "the quick brown fox jumps over the lazy dog tonight",
    "the quick brown fox jumps over the lazy dog today",
    "completely different text with nothing shared here at all",
    "the quick brown fox jumps over the lazy dog tonight",
    "a fourth document about storage lifecycles and sidecars",
    "the quick brown fox jumps over the lazy dog tonight ok",
]


def _docs(spark, path):
    rows = [
        (i + 1, f"src{i % 2}", "en", len(t), t) for i, t in enumerate(_TEXTS)
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, source string, lang string, n_chars int, text string"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _vecs(spark, path):
    rows = [
        (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(4)])
        for i in range(24)
    ]
    spark.createDataFrame(rows, "vec_id bigint, embedding array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _values(spark, path):
    spark.createDataFrame([(v,) for v in range(40)], "v bigint").coalesce(
        1
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@dataclass(frozen=True)
class Case:
    name: str
    data: Callable
    ensure: Callable
    built: str  # the word a (re)build returns
    sidecar: str
    kwargs: dict
    changed: dict  # a param change that must rebuild
    broken: dict  # params that make the build itself fail


def _ivfadc(spark, df, path, **kw):
    id_col = kw.pop("id_col", "vec_id")
    return ensure_ivfadc_index(spark, df, id_col, "embedding", path, **kw)


CASES = [
    Case("cluster", _docs, ensure_cluster_store, "built", "_cluster_meta.json",
         {}, {"n": 4}, {"id_col": "nope"}),
    Case("minhash", _docs, ensure_minhash_store, "built", "_minhash_meta.json",
         {}, {"bands": 4}, {"id_col": "nope"}),
    Case("postings", _docs, ensure_postings_store, "written",
         "_postings_meta.json", {"n_buckets": 4}, {"n_buckets": 8},
         {"text_col": "nope"}),
    Case("quality", _docs, ensure_quality_store, "written", "_quality_meta.json",
         {}, {"threshold": 0.9}, {"text_col": "nope"}),
    Case("ivf", _vecs, ensure_ivf_store, "written", "_ivf_meta.json",
         {"n_planes": 2}, {"n_planes": 3}, {"vec_col": "nope"}),
    Case("ivfadc", _vecs, _ivfadc, "written", "_ivfadc_model.json",
         {"k": 2, "iters": 1, "m": 2, "ksub": 2, "pq_iters": 1},
         {"k": 3, "iters": 1, "m": 2, "ksub": 2, "pq_iters": 1},
         {"id_col": "nope", "k": 2, "iters": 1, "m": 2, "ksub": 2, "pq_iters": 1}),
    Case("hist", _values, ensure_hist_store, "built", "_hist_meta.json",
         {"value_col": "v", "bounds": [0, 1, 2, 4, 8, 16, 32]},
         {"value_col": "v", "bounds": [0, 2, 8, 32]},
         {"value_col": "nope", "bounds": [0, 1, 2]}),
]


def _sidecars(root: str, name: str) -> list[str]:
    return [
        os.path.join(d, name) for d, _, files in os.walk(root) if name in files
    ]


def _scratch(tmp_path) -> list[str]:
    return [p for p in os.listdir(tmp_path) if "__build_" in p]


@pytest.mark.parametrize("case", CASES, ids=[c.name for c in CASES])
class TestStoreContract:
    def test_lifecycle(self, spark, tmp_path, case):
        df = case.data(spark, str(tmp_path / "input"))
        path = str(tmp_path / "store")

        assert case.ensure(spark, df, path, **case.kwargs) == case.built
        assert _sidecars(path, case.sidecar)
        assert case.ensure(spark, df, path, **case.kwargs) == "reused"

        assert case.ensure(spark, df, path, **case.changed) == case.built
        assert case.ensure(spark, df, path, **case.changed) == "reused"

        # a crash-torn sidecar reads as absent: rebuild, never raise
        for meta in _sidecars(path, case.sidecar):
            with open(meta, "w") as fh:
                fh.write('{"params": {"trunc')
        assert case.ensure(spark, df, path, **case.changed) == case.built
        assert case.ensure(spark, df, path, **case.changed) == "reused"

        # a build that dies mid-flight leaks no scratch dir
        with pytest.raises(Exception):
            case.ensure(spark, df, path, **case.broken)
        assert _scratch(tmp_path) == []
