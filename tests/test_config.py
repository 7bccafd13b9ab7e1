"""Config model tests: YAML loading, env expansion, validation
(reference parity: config_loader.py / config_model.py)."""

from __future__ import annotations

import pytest

from etl_finance_pipeline_spark.config import (
    DEFAULT_COLUMNS_MAP,
    EngineConfig,
    load_config,
)


def test_defaults():
    cfg = load_config(None)
    assert cfg.schema_.required_columns == [
        "TIMESTAMP", "OPEN", "HIGH", "LOW", "CLOSE",
    ]
    assert cfg.parquet.compression == "zstd"
    assert cfg.resample.timeframes == ["1T", "5T", "15T", "1H"]
    assert cfg.gaps.use_ffill_for == ["VOLUME"]


def test_yaml_load_with_env_expansion(tmp_path, monkeypatch):
    monkeypatch.setenv("DATA_ROOT", "/data/x")
    p = tmp_path / "cfg.yml"
    p.write_text(
        "paths:\n  raw_path: ${DATA_ROOT}/raw\n"
        "parquet:\n  compression: snappy\n  row_group_size: 65536\n"
        "performance:\n  cache_normalized: true\n  overlap_timeframes: 3\n"
        "gaps:\n  short_gap_minutes: 5\n"
        "schema:\n  columns_map:\n    open: [o, open]\n"
    )
    cfg = load_config(str(p))
    assert cfg.paths.raw_path == "/data/x/raw"
    assert cfg.parquet.compression == "snappy"
    # columns_map keys uppercased by validator
    assert cfg.schema_.columns_map["OPEN"] == ["o", "open"]


def test_unset_env_expands_empty(tmp_path, monkeypatch):
    monkeypatch.delenv("NOPE_VAR", raising=False)
    p = tmp_path / "cfg.yml"
    p.write_text("paths:\n  raw_path: ${NOPE_VAR}/raw\n")
    assert load_config(str(p)).paths.raw_path == "/raw"


def test_invalid_compression_rejected():
    with pytest.raises(ValueError, match="compression"):
        EngineConfig.model_validate({"parquet": {"compression": "brotli9"}})


def test_default_columns_map_has_canonical_keys():
    assert set(DEFAULT_COLUMNS_MAP) >= {
        "TIMESTAMP", "OPEN", "HIGH", "LOW", "CLOSE", "VOLUME",
    }
