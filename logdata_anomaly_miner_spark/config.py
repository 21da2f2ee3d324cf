"""Declarative constraint-suite specification.

AMiner's query lifecycle starts from a YAML config validated by
normalisation/validation schemas (aminer/YamlConfig.py:28-96) that names the
parser model, analysis components, and event handlers. Our equivalent is a
suite spec — a plain dict (or YAML file when pyyaml is present) — validated
and compiled into the DataFrame programs of constraints/ and operators/.

Spec shape:

    suite:
      kind_vocab: [text, image, audio, video, code, table, header, footnote]
      entropy: {prob_thresh: 0.001}
      drift:   {psi_threshold: 0.2, buckets: 10, len_bounds: [0, 200]}

The suite always runs all six checks (uniqueness, referential, schema,
new_value, entropy, drift). Unknown keys fail fast (the reference's cerberus-style validation); defaults
are filled like its normalisation pass.
"""

from __future__ import annotations

from typing import Any

_DEFAULTS: dict[str, Any] = {
    "kind_vocab": [
        "text", "image", "audio", "video", "code", "table", "header", "footnote"
    ],
    "entropy": {"prob_thresh": 0.001},
    "drift": {"psi_threshold": 0.2, "buckets": 10, "len_bounds": [0.0, 200.0]},
    # learn-mode lifecycle + path screening (reference detector options
    # stop_learning_time / stop_learning_no_anomaly_time / ignore_list)
    "lifecycle": {
        "stop_learning_time": None,
        "stop_learning_no_anomaly_time": None,
        "ignore_kinds": [],
    },
}


class SpecError(ValueError):
    pass


def validate_spec(spec: dict[str, Any] | None) -> dict[str, Any]:
    """Validate + normalize (defaults) a suite spec dict."""
    spec = dict(spec or {})
    had_suite = "suite" in spec
    suite = dict(spec.pop("suite", spec))
    if had_suite and spec:
        # 'suite' was given alongside other top-level keys — fail fast
        # instead of silently ignoring them.
        raise SpecError(
            f"top level must be the suite mapping; stray keys: {sorted(spec)}"
        )
    unknown = set(suite) - set(_DEFAULTS)
    if unknown:
        raise SpecError(f"unknown suite keys: {sorted(unknown)}")
    out: dict[str, Any] = {}
    for k, default in _DEFAULTS.items():
        v = suite.get(k, default)
        if isinstance(default, dict):
            if not isinstance(v, dict):
                raise SpecError(f"{k} must be a mapping")
            extra = set(v) - set(default)
            if extra:
                raise SpecError(f"unknown {k} keys: {sorted(extra)}")
            out[k] = {**default, **v}
        else:
            out[k] = v
    pt = out["entropy"]["prob_thresh"]
    if not (isinstance(pt, (int, float)) and 0 <= pt <= 1):
        raise SpecError("entropy.prob_thresh must be in [0, 1]")
    if out["drift"]["buckets"] < 2:
        raise SpecError("drift.buckets must be >= 2")
    return out


def load_spec(path_or_dict) -> dict[str, Any]:
    """Load from a dict, or a YAML/JSON file path (YAML only when pyyaml is
    installed; JSON always works)."""
    if isinstance(path_or_dict, dict):
        return validate_spec(path_or_dict)
    text = open(path_or_dict).read()
    try:
        import yaml  # type: ignore

        data = yaml.safe_load(text)
    except ImportError:
        import json

        data = json.loads(text)
    return validate_spec(data)


def to_suite_config(spec: dict[str, Any], **baselines):
    """Compile a validated spec into constraints.suite.SuiteConfig."""
    from logdata_anomaly_miner_spark.constraints.suite import SuiteConfig

    lo, hi = spec["drift"]["len_bounds"]
    lc = spec["lifecycle"]
    return SuiteConfig(
        kind_vocab=tuple(spec["kind_vocab"]),
        entropy_prob_thresh=float(spec["entropy"]["prob_thresh"]),
        drift_psi_threshold=float(spec["drift"]["psi_threshold"]),
        n_hist_buckets=int(spec["drift"]["buckets"]),
        text_len_bounds=(float(lo), float(hi)),
        stop_learning_time=(
            None if lc["stop_learning_time"] is None else float(lc["stop_learning_time"])
        ),
        stop_learning_no_anomaly_time=(
            None
            if lc["stop_learning_no_anomaly_time"] is None
            else float(lc["stop_learning_no_anomaly_time"])
        ),
        ignore_kinds=tuple(lc["ignore_kinds"]),
        **baselines,
    )
