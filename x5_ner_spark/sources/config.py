"""S7: YAML config source.

The reference drives training and the service from YAML files
(ner/train.py:345: ``yaml.safe_load`` with per-key defaults;
service/app.py:25-32: optional file, hard defaults otherwise). Same shape
here for the KG pipeline runner: optional file, flat keys, explicit
defaults, environment-variable override hook — so a deployment can ship one
``pipeline.yaml`` instead of a flag soup.
"""

from __future__ import annotations

import os
from typing import Any

DEFAULTS: dict[str, Any] = {
    "pages_path": None,        # parquet pages table; None → synthesize
    "n_pages": 10_000,         # synthetic page count when pages_path is None
    "out_dir": "/tmp/x5_kg_out",
    "n_buckets": 8,
    "run_id": "run0",
    "brand_lexicon_path": None,  # lexicon file (sources/lexicon.py); None → fixtures
}


def load_config(path: str | None) -> dict[str, Any]:
    """Defaults ← YAML file (if given/exists) ← X5_SPARK_<KEY> env vars.
    Unknown YAML keys are kept (forward-compatible, like the reference's
    ``cfg.get`` pattern); missing file with an explicit path is an error,
    mirroring yaml.safe_load(open(...)) in the reference."""
    cfg = dict(DEFAULTS)
    if path:
        import yaml  # PyYAML, same loader the reference uses

        with open(path) as f:
            loaded = yaml.safe_load(f) or {}
        if not isinstance(loaded, dict):
            raise ValueError(f"config root must be a mapping, got {type(loaded).__name__}")
        cfg.update(loaded)
    for key, default in DEFAULTS.items():
        env = os.environ.get(f"X5_SPARK_{key.upper()}")
        if env is not None:
            cfg[key] = type(default)(env) if default is not None else env
    return cfg
