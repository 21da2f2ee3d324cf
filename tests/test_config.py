"""Suite-spec validation/normalisation (YamlConfig analog)."""

from __future__ import annotations

import json
import tempfile

import pytest

from logdata_anomaly_miner_spark.config import SpecError, load_spec, validate_spec


def test_defaults():
    spec = validate_spec({})
    assert spec["entropy"]["prob_thresh"] == 0.001
    assert len(spec["kind_vocab"]) == 8


def test_overrides_merge():
    spec = validate_spec({"suite": {"entropy": {"prob_thresh": 0.5}}})
    assert spec["entropy"]["prob_thresh"] == 0.5
    assert spec["drift"]["buckets"] == 10  # untouched defaults survive


def test_unknown_keys_fail():
    with pytest.raises(SpecError, match="unknown suite keys"):
        validate_spec({"suite": {"nope": 1}})
    with pytest.raises(SpecError, match="stray keys"):
        validate_spec({"suite": {}, "extra": 1})
    with pytest.raises(SpecError, match="unknown entropy keys"):
        validate_spec({"suite": {"entropy": {"threshold": 1}}})
    with pytest.raises(SpecError, match="unknown suite keys"):
        validate_spec({"suite": {"checks": ["uniqueness", "magic"]}})


def test_value_validation():
    with pytest.raises(SpecError, match="prob_thresh"):
        validate_spec({"suite": {"entropy": {"prob_thresh": 2.0}}})
    with pytest.raises(SpecError, match="buckets"):
        validate_spec({"suite": {"drift": {"buckets": 1}}})


def test_load_from_json_file():
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        json.dump({"suite": {"drift": {"psi_threshold": 0.5}}}, f)
        path = f.name
    spec = load_spec(path)
    assert spec["drift"]["psi_threshold"] == 0.5


def test_to_suite_config():
    from logdata_anomaly_miner_spark.config import to_suite_config

    cfg = to_suite_config(validate_spec({"suite": {"entropy": {"prob_thresh": 0.2}}}))
    assert cfg.entropy_prob_thresh == 0.2
    assert cfg.kind_vocab[0] == "text"
