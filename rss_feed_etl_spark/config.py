"""YAML pipeline configuration (reference run_etl.py:84-96 `load_config` +
config/config.yaml) for the Spark engine.

The reference drives both pipelines from one YAML document: an ``etl``
section (loading strategy, timezone, config sheet; its output-column list
is accepted and not read) and a ``job_filter`` section (date window,
required-content columns, per-column keyword exclusions, append/overwrite
loading mode).  This module maps that exact document shape onto typed
configs for ``plans/etl_pipeline.run_etl`` and
``plans/filter_pipeline.run_filter_pipeline``; Sheets worksheet names become
Parquet table paths under ``storage.root``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

import yaml


@dataclass
class EtlConfig:
    """Mirrors config.yaml `etl:` (reference config/config.yaml:2-31)."""

    loading_strategy: str = "scd1"  # scd1 | scd2 | merge_upsert
    timezone: str | None = None  # reference default US/Central; None = session tz
    config_table: str = "feeds_config"  # was: config_sheet worksheet
    target_table: str = "stage"  # was: target_worksheet "StageData"


@dataclass
class FilterConfig:
    """Mirrors config.yaml `job_filter:` (reference config/config.yaml:81-183)."""

    source_table: str = "stage"
    output_table: str = "filtered"
    loading_mode: str = "append"  # append | overwrite
    add_as_of_dt: bool = True
    days_back: int = 7
    date_column: str = "published"
    require_content: list[str] = field(default_factory=lambda: ["summary"])
    exclude_by_column: dict[str, list[str]] = field(default_factory=dict)


@dataclass
class StorageConfig:
    """Engine-specific: where tables live (replaces the spreadsheet id)."""

    root: str = "."

    def table_path(self, name: str) -> str:
        return f"{self.root.rstrip('/')}/{name}"


@dataclass
class PipelineConfig:
    etl: EtlConfig = field(default_factory=EtlConfig)
    job_filter: FilterConfig = field(default_factory=FilterConfig)
    storage: StorageConfig = field(default_factory=StorageConfig)


# Keys this engine no longer reads, with the one value it always applied.
# Any other value would silently change what a config means, so it is an
# error rather than ignored.
_REMOVED_KEYS = {
    ("job_filter", "case_sensitive"): False,
    ("storage", "partition_stage"): True,
    ("storage", "partition_output"): True,
}


def _pick(d: dict[str, Any], *keys: str, default: Any = None) -> Any:
    for k in keys:
        if k in d and d[k] is not None:
            return d[k]
    return default


def parse_config(doc: dict[str, Any]) -> PipelineConfig:
    """Dict → PipelineConfig, accepting the reference's key names
    (config_sheet, target_worksheet, source_worksheet, …) as aliases so a
    reference config file ports with only the storage section added."""
    etl_d = doc.get("etl", {}) or {}
    filt_d = doc.get("job_filter", {}) or {}
    stor_d = doc.get("storage", {}) or {}
    for (section, key), applied in _REMOVED_KEYS.items():
        value = _pick(doc.get(section, {}) or {}, key, default=applied)
        if bool(value) != applied:
            raise ValueError(
                f"{section}.{key}: {value!r} is not supported (always {applied})"
            )

    etl = EtlConfig(
        loading_strategy=_pick(etl_d, "loading_strategy", default="scd1"),
        timezone=_pick(etl_d, "timezone"),
        config_table=_pick(etl_d, "config_table", "config_sheet", default="feeds_config"),
        target_table=_pick(etl_d, "target_table", "target_worksheet", default="stage"),
    )
    if etl.loading_strategy not in {"scd1", "scd2", "merge_upsert"}:
        raise ValueError(f"unknown loading_strategy: {etl.loading_strategy}")

    date_d = filt_d.get("date_filter", {}) or {}
    content_d = filt_d.get("require_content", {}) or {}
    filt = FilterConfig(
        source_table=_pick(filt_d, "source_table", "source_worksheet", default="stage"),
        output_table=_pick(filt_d, "output_table", "output_worksheet", default="filtered"),
        loading_mode=_pick(filt_d, "loading_mode", default="append"),
        add_as_of_dt=bool(_pick(filt_d, "add_as_of_dt", default=True)),
        days_back=int(_pick(date_d, "days_back", default=7))
        if date_d.get("enabled", True)
        else 0,
        date_column=_pick(date_d, "column", default="published"),
        require_content=list(_pick(content_d, "columns", default=["summary"]) or [])
        if content_d.get("enabled", True)
        else [],
        exclude_by_column={
            col: [str(k) for k in kws or []]
            for col, kws in (filt_d.get("exclude_by_column", {}) or {}).items()
        },
    )
    if filt.loading_mode not in {"append", "overwrite"}:
        raise ValueError(f"unknown loading_mode: {filt.loading_mode}")

    storage = StorageConfig(root=_pick(stor_d, "root", default="."))
    return PipelineConfig(etl=etl, job_filter=filt, storage=storage)


def load_config(path: str) -> PipelineConfig:
    """YAML file → PipelineConfig (reference load_config, run_etl.py:84-96 —
    but a missing file is an error here, not a silent empty config)."""
    with open(path) as fh:
        doc = yaml.safe_load(fh) or {}
    return parse_config(doc)
