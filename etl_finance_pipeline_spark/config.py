"""Config model for the engine — canonical schema + pipeline policies.

Mirrors the reference's YAML config surface (shape of
/root/reference/config/default.yml, typed model at
/root/reference/src/etl/utils/config_model.py:10-60) while staying a
brand-new implementation: pydantic models, ``${ENV}`` expansion, and
the same policy knobs (columns_map synonym schema, required columns,
timezone policy, gap policy, resample timeframes, parquet options).
"""

from __future__ import annotations

import os
import re
from typing import Any

from pydantic import BaseModel, Field, field_validator

_ENV_PATTERN = re.compile(r"\$\{([A-Za-z_][A-Za-z0-9_]*)\}")

#: Canonical OHLCV synonym map — canonical UPPER name -> accepted
#: source-column variants (case-insensitive; also matched as
#: ``variant_*`` prefix / ``*_variant`` suffix).
DEFAULT_COLUMNS_MAP: dict[str, list[str]] = {
    "TIMESTAMP": ["datetime", "timestamp", "time", "date", "ts"],
    "OPEN": ["open", "o", "price_open", "askopen", "bidopen"],
    "HIGH": ["high", "h", "price_high", "askhigh", "bidhigh"],
    "LOW": ["low", "l", "price_low", "asklow", "bidlow"],
    "CLOSE": ["close", "c", "price_close", "askclose", "bidclose"],
    "VOLUME": ["volume", "vol", "v", "tickvol", "tick_volume"],
    "SPREAD": ["spread"],
    "BID": ["bid"],
    "ASK": ["ask"],
}

#: Identifier-ish columns never renamed by the synonym mapper.
PROTECTED_COLUMNS = frozenset({"symbol", "ticker", "instrument", "pair"})

DEFAULT_REQUIRED_COLUMNS = ["TIMESTAMP", "OPEN", "HIGH", "LOW", "CLOSE"]

ALLOWED_COMPRESSIONS = {"zstd", "snappy", "gzip", "lz4", "none"}


class ParquetConfig(BaseModel):
    compression: str = "zstd"
    partition_cols: list[str] = Field(default_factory=lambda: ["SYMBOL", "YEAR"])
    #: write outputs through the transactional commit-log table format
    #: (sources/table_format.py): atomic commits, snapshot-isolated
    #: readers, time travel. Plain directory parquet otherwise.
    transactional: bool = False

    @field_validator("compression")
    @classmethod
    def _check_compression(cls, v: str) -> str:
        if v.lower() not in ALLOWED_COMPRESSIONS:
            raise ValueError(f"unsupported compression {v!r}; allowed: {sorted(ALLOWED_COMPRESSIONS)}")
        return v.lower()


class SchemaConfig(BaseModel):
    columns_map: dict[str, list[str]] = Field(default_factory=lambda: dict(DEFAULT_COLUMNS_MAP))
    required_columns: list[str] = Field(default_factory=lambda: list(DEFAULT_REQUIRED_COLUMNS))

    @field_validator("columns_map")
    @classmethod
    def _upper_keys(cls, v: dict[str, list[str]]) -> dict[str, list[str]]:
        return {k.upper(): list(vals) for k, vals in v.items()}


class TimezoneConfig(BaseModel):
    source_default: str | None = None  # None -> assume UTC + needs_review
    target: str = "UTC"


class GapConfig(BaseModel):
    short_gap_minutes: int = 5
    use_ffill_for: list[str] = Field(default_factory=lambda: ["VOLUME"])
    interpolate_prices: bool = True


class ResampleConfig(BaseModel):
    timeframes: list[str] = Field(default_factory=lambda: ["1T", "5T", "15T", "1H"])
    drop_incomplete: bool = True
    extra_numeric_policy: str = "mean"  # or "sum"


class PerformanceConfig(BaseModel):
    """Engine-side execution knob (no reference counterpart — the
    reference is single-threaded pandas and has nothing to tune).

    fuse_symbol_partitioning: hash-partition the input by SYMBOL once,
    up front. Every downstream distribution requirement — dedupe
    ``groupBy(SYMBOL, TIMESTAMP)``, gap windows ``partitionBy(SYMBOL)``,
    grid joins on (SYMBOL, ts), candle ``groupBy(SYMBOL, bucket)`` — is
    satisfied by hash(SYMBOL) (Catalyst: HashPartitioning on a subset of
    the clustering keys), so the whole multi-timeframe pipeline runs on
    ONE shuffle instead of one per operator. Turn it on when distinct
    symbols ≳ 2× cluster cores; with a handful of symbols it caps
    parallelism at the symbol count (one hot symbol = one hot partition
    — salting can't help here because window/dedupe semantics need the
    whole symbol together).
    """

    fuse_symbol_partitioning: bool = False


class PathsConfig(BaseModel):
    raw_path: str = "data/raw"
    processed_path: str = "data/processed"
    quarantine_path: str = "data/quarantine"
    reports_path: str = "reports"
    logs_path: str = "logs"


class EngineConfig(BaseModel):
    """Top-level engine configuration."""

    paths: PathsConfig = Field(default_factory=PathsConfig)
    schema_: SchemaConfig = Field(default_factory=SchemaConfig, alias="schema")
    timezone: TimezoneConfig = Field(default_factory=TimezoneConfig)
    gaps: GapConfig = Field(default_factory=GapConfig)
    resample: ResampleConfig = Field(default_factory=ResampleConfig)
    parquet: ParquetConfig = Field(default_factory=ParquetConfig)
    performance: PerformanceConfig = Field(default_factory=PerformanceConfig)

    model_config = {"populate_by_name": True}


def _expand_env(obj: Any) -> Any:
    """Recursively expand ``${VAR}`` in string values (empty if unset)."""
    if isinstance(obj, str):
        return _ENV_PATTERN.sub(lambda m: os.environ.get(m.group(1), ""), obj)
    if isinstance(obj, dict):
        return {k: _expand_env(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_expand_env(v) for v in obj]
    return obj


def load_config(path: str | None = None, overrides: dict[str, Any] | None = None) -> EngineConfig:
    """Load an :class:`EngineConfig` from YAML (with env expansion),
    falling back to defaults when *path* is None."""
    raw: dict[str, Any] = {}
    if path is not None:
        import yaml

        with open(path) as fh:
            raw = yaml.safe_load(fh) or {}
    raw = _expand_env(raw)
    if overrides:
        raw.update(overrides)
    return EngineConfig.model_validate(raw)
