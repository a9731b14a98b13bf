"""The traced benchmark run (``perfbench/job.py --trace 1``) wraps these
program functions by module attribute. A rename must fail here rather than
silently break the traced run."""

from __future__ import annotations

import importlib

import pytest

TRACE_TARGETS = [
    ("oni_ml_spark.pipelines.flow", "featurize"),
    ("oni_ml_spark.pipelines.proxy", "featurize"),
    ("oni_ml_spark.pipelines.flow", "fit_topic_model"),
    ("oni_ml_spark.pipelines.flow", "score_records"),
    ("oni_ml_spark.pipelines.common", "fit_topic_model"),
    ("oni_ml_spark.pipelines.common", "score_records"),
    ("oni_ml_spark.scoring", "score_records"),
    ("oni_ml_spark.topics", "load_model"),
    ("oni_ml_spark.io", "write_tsv"),
]


@pytest.mark.parametrize("module,name", TRACE_TARGETS)
def test_trace_target_resolves(module, name):
    assert callable(getattr(importlib.import_module(module), name))
