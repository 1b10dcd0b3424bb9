"""Canonical golden-JSON encoder + comparator.

Re-creates the reference's unit-test golden shape (goldie snapshots of the
Go OTel SDK metricdata tree, /root/reference/aggregation_test.go:20-51 and
testdata/fixtures/*.golden.json) from our sink DataFrames, and compares
trees canonically:

  - data points sorted by (StartTime, attrs) — the reference's native order
    is first-seen and non-deterministic under a shuffle (SURVEY.md §2.4 A12)
  - integral floats normalized to ints (Go json marshals 1176.0 as 1176)
  - resources sorted by their attribute sets; metrics stay in config order

Both encoders (golden and OTLP) read a result's materialized data points
(`PipelineResult.materialize`) as Arrow columns, build each distinct
attribute set and its JSON key once, and take the per-metric constants
from the config. Timestamps stay int64 microseconds, so sub-second window
bounds are exact.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc

from .config import MetricsConfig
from .operators.aggregate import config_attribute_types
from .pipeline import PipelineResult, run_concurrently

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_ONEOF = {"STRING": "StringValue", "BOOL": "BoolValue",
          "INT64": "IntValue", "FLOAT64": "DoubleValue"}
_VALUE_COLUMNS = {
    "Count": ("value",),
    "Sum": ("value",),
    "Histogram": ("count", "sum", "min", "max", "bucket_counts"),
}


def _rfc3339(micros: int) -> str:
    return (_EPOCH + timedelta(microseconds=micros)).strftime("%Y-%m-%dT%H:%M:%SZ")


def _num(x: Any) -> Any:
    """Go json marshals an integral float64 as an integer (1176.0 -> 1176)."""
    return int(x) if isinstance(x, float) and x.is_integer() else x


def _coerce(v: str, t: str):
    """Canonical string -> typed JSON value (Go attribute.Value marshals
    Int64/Float64/Bool as JSON numbers/bools, app.go:399-412)."""
    if t == "INT64":
        return int(v)
    if t == "FLOAT64":
        return float(v)
    if t == "BOOL":
        return v == "true"
    return v


def _render(sets: list[tuple], types: dict[str, str], attrs, norm_key: bool) -> list:
    """Each distinct attribute set -> (its JSON list, normalized, and the
    canonical key it groups and sorts by). `attrs(typed, norm)` builds the
    encoder's list from (key, OTel type, typed value) triples; keys
    without a static type read as STRING. The key is the sorted-keys JSON
    of the normalized list if `norm_key`, else of the raw one."""
    out = []
    for pairs in sets:
        typed = [(k, types.get(k, "STRING"), _coerce(v, types.get(k, "STRING"))) for k, v in pairs]
        a = attrs(typed, True)
        out.append((a, json.dumps(a if norm_key else attrs(typed, False), sort_keys=True)))
    return out


@dataclass
class _MetricPoints:
    """One metric's data points, column by column. `resource` and `attrs`
    hold per-point ids of distinct attribute sets: tuples of (key, value)."""

    metric: MetricsConfig
    resource: list[int]
    attrs: list[int]
    attr_sets: list[tuple]
    start_us: list[int]
    end_us: list[int]
    values: dict[str, list]


def _intern_sets(col, index: dict[tuple, int]) -> list[int]:
    """list<struct<key,value,...>> column -> each row's id of its (key,
    value) tuple in `index`, which grows as new sets appear."""
    arr = col.combine_chunks()
    flat = arr.flatten()
    keys = pc.struct_field(flat, "key").to_pylist()
    vals = pc.struct_field(flat, "value").to_pylist()
    ids, pos = [], 0
    for n in pc.list_value_length(arr).to_pylist():
        pairs = tuple(zip(keys[pos : pos + n], vals[pos : pos + n]))
        ids.append(index.setdefault(pairs, len(index)))
        pos += n
    return ids


def _micros(col) -> list[int]:
    """Timestamp column -> exact int64 microseconds since the epoch."""
    return col.cast(pa.timestamp("us", tz="UTC")).cast(pa.int64()).to_pylist()


def _read_points(result: PipelineResult, config):
    """Columnar point reader shared by both encoders: every metric's
    materialized data points in config order, read through Arrow, plus the
    distinct resource sets they index and the attribute type maps. The
    per-metric constants (scope, unit, temporality, bounds...) come from
    the config, not from every row."""
    result.materialize()
    names = sorted(result.points, key=lambda n: result.metric_index[n])
    tables = run_concurrently(
        result.parsed.sparkSession,
        [result.points[n].toArrow for n in names],
    )
    res_index: dict[tuple, int] = {}
    metrics = []
    for name, table in zip(names, tables):
        m = config.metrics[result.metric_index[name]]
        attr_index: dict[tuple, int] = {}
        metrics.append(
            _MetricPoints(
                metric=m,
                resource=_intern_sets(table.column("resource_attrs"), res_index),
                attrs=_intern_sets(table.column("attrs"), attr_index),
                attr_sets=list(attr_index),
                start_us=_micros(table.column("window_start")),
                end_us=_micros(table.column("window_end")),
                values={c: table.column(c).to_pylist() for c in _VALUE_COLUMNS[m.type]},
            )
        )
    types = result.attr_types or config_attribute_types(result.parsed, config)
    return list(res_index), metrics, types.by_key(config)


def encode_golden(result: PipelineResult, config) -> list[dict]:
    """Sinks -> list of canonical ResourceMetrics JSON trees (usually one)."""
    res_sets, metrics, (res_types, metric_types) = _read_points(result, config)

    def attrs(typed, norm=True):
        return [
            {"Key": k, "Value": {"Type": t, "Value": _num(v) if norm else v}}
            for k, t, v in typed
        ]

    # resources group and sort by their raw JSON; data points sort by the
    # normalized one, as canonicalize does
    resources = _render(res_sets, res_types, attrs, norm_key=False)
    scope = {
        "Name": config.scope.name,
        "Version": config.scope.version,
        "SchemaURL": config.scope.schema_url,
    }
    stamps: dict[int, str] = {}  # a run has few distinct window bounds

    def stamp(micros: int) -> str:
        if micros not in stamps:
            stamps[micros] = _rfc3339(micros)
        return stamps[micros]

    by_resource: dict[str, dict] = {}
    for mp in metrics:
        m = mp.metric
        sets = _render(mp.attr_sets, metric_types[m.name], attrs, norm_key=True)
        bounds = [_num(float(b)) for b in m.boundaries]
        vals = mp.values
        points: dict[str, tuple[dict, list]] = {}  # rkey -> (Data, points)
        for i, r in enumerate(mp.resource):
            rattrs, rkey = resources[r]
            if rkey not in points:
                res = by_resource.setdefault(
                    rkey,
                    {
                        "Resource": rattrs,
                        "ScopeMetrics": [{"Scope": dict(scope), "Metrics": []}],
                    },
                )
                data: dict[str, Any] = {"DataPoints": [], "Temporality": m.temporality}
                if m.type == "Count":
                    data["IsMonotonic"] = True  # aggregation.go:159
                elif m.type == "Sum":
                    data["IsMonotonic"] = m.is_monotonic
                res["ScopeMetrics"][0]["Metrics"].append(
                    {"Name": m.name, "Description": m.description, "Unit": m.unit, "Data": data}
                )
                points[rkey] = (data, [])
            a, akey = sets[mp.attrs[i]]
            start = mp.start_us[i]
            dp: dict[str, Any] = {
                "Attributes": a,
                "StartTime": stamp(start),
                "Time": stamp(mp.end_us[i]),
            }
            if m.type == "Count":
                dp["Value"] = vals["value"][i]
            elif m.type == "Sum":
                dp["Value"] = _num(vals["value"][i])
            else:
                dp["Count"] = vals["count"][i]
                dp["Bounds"] = list(bounds)
                dp["BucketCounts"] = vals["bucket_counts"][i]
                if not m.no_min_max:
                    dp["Min"] = _num(vals["min"][i])
                    dp["Max"] = _num(vals["max"][i])
                dp["Sum"] = _num(vals["sum"][i])
            points[rkey][1].append((dp["StartTime"], start, akey, dp))
        for data, dps in points.values():
            dps.sort(key=lambda d: d[:3])
            data["DataPoints"] = [d[3] for d in dps]
    return [by_resource[k] for k in sorted(by_resource)]


def canonicalize(tree: Any) -> Any:
    """Normalize a golden tree for order-insensitive comparison."""
    tree = _norm_numbers(tree)
    if isinstance(tree, dict) and "ScopeMetrics" in tree:
        for sm in tree["ScopeMetrics"]:
            for metric in sm.get("Metrics", []):
                dps = metric.get("Data", {}).get("DataPoints", [])
                dps.sort(key=lambda d: (d.get("StartTime", ""), json.dumps(d.get("Attributes", []), sort_keys=True)))
    return tree


def _norm_numbers(x: Any) -> Any:
    if isinstance(x, float):
        return _num(x)
    if isinstance(x, dict):
        return {k: _norm_numbers(v) for k, v in x.items()}
    if isinstance(x, list):
        return [_norm_numbers(v) for v in x]
    return x


def encode_otlp(result: PipelineResult, config) -> list[dict]:
    """OTLP proto-JSON shape (the e2e goldens: one ExportMetricsServiceRequest
    per export — /root/reference/testdata/fixtures/e2e.golden.json,
    e2e_backfill.golden.json). Go proto-JSON omits empty strings and uses
    oneof wrappers: value.Value.StringValue, dp.Value.AsInt/AsDouble;
    aggregation_temporality 1=delta, 2=cumulative. Requests and data
    points sort by the un-normalized attribute JSON."""
    res_sets, metrics, (res_types, metric_types) = _read_points(result, config)

    def attrs(typed, norm=True):
        return [
            {"key": k, "value": {"Value": {_ONEOF[t]: _num(v) if norm else v}}}
            for k, t, v in typed
        ]

    resources = _render(res_sets, res_types, attrs, norm_key=False)
    scope = {k: v for k, v in (("name", config.scope.name), ("version", config.scope.version)) if v}
    by_resource: dict[str, dict] = {}
    for mp in metrics:
        m = mp.metric
        sets = _render(mp.attr_sets, metric_types[m.name], attrs, norm_key=False)
        kind = "Histogram" if m.type == "Histogram" else "Sum"
        bounds = [_num(float(b)) for b in m.boundaries]
        vals = mp.values
        points: dict[str, tuple[dict, list]] = {}  # rkey -> (Data, points)
        for i, r in enumerate(mp.resource):
            rattrs, rkey = resources[r]
            if rkey not in points:
                res = by_resource.get(rkey)
                if res is None:
                    sm: dict[str, Any] = {"scope": dict(scope), "metrics": []}
                    if config.scope.schema_url:
                        sm["schema_url"] = config.scope.schema_url
                    res = by_resource[rkey] = {
                        "resource": {"attributes": rattrs},
                        "scope_metrics": [sm],
                    }
                metric: dict[str, Any] = {"name": m.name}
                if m.description:
                    metric["description"] = m.description
                if m.unit:
                    metric["unit"] = m.unit
                data: dict[str, Any] = {
                    "data_points": [],
                    "aggregation_temporality": 2 if m.is_cumulative else 1,
                }
                if m.type == "Count":
                    data["is_monotonic"] = True  # aggregation.go:159
                elif m.type == "Sum":
                    data["is_monotonic"] = m.is_monotonic
                metric["Data"] = {kind: data}
                res["scope_metrics"][0]["metrics"].append(metric)
                points[rkey] = (data, [])
            a, akey = sets[mp.attrs[i]]
            start = mp.start_us[i] * 1000
            dp: dict[str, Any] = {"attributes": a} if a else {}
            dp["start_time_unix_nano"] = start
            dp["time_unix_nano"] = mp.end_us[i] * 1000
            if m.type == "Count":
                dp["Value"] = {"AsInt": vals["value"][i]}
            elif m.type == "Sum":
                dp["Value"] = {"AsDouble": _num(vals["value"][i])}
            else:
                dp["count"] = vals["count"][i]
                dp["sum"] = _num(vals["sum"][i])
                dp["explicit_bounds"] = list(bounds)
                dp["bucket_counts"] = vals["bucket_counts"][i]
                if not m.no_min_max:
                    dp["min"] = _num(vals["min"][i])
                    dp["max"] = _num(vals["max"][i])
            points[rkey][1].append((start, akey, dp))
        for data, dps in points.values():
            dps.sort(key=lambda d: d[:2])
            data["data_points"] = [d[2] for d in dps]
    return [{"resource_metrics": [by_resource[k]]} for k in sorted(by_resource)]


def canonicalize_otlp(tree: Any) -> Any:
    tree = _norm_numbers(tree)
    for rm in tree.get("resource_metrics", []):
        for sm in rm.get("scope_metrics", []):
            for metric in sm.get("metrics", []):
                data = metric.get("Data", {})
                dps = (data.get("Sum") or data.get("Histogram") or {}).get("data_points", [])
                dps.sort(
                    key=lambda d: (
                        d["start_time_unix_nano"],
                        json.dumps(d.get("attributes", []), sort_keys=True),
                    )
                )
    return tree


def load_reference_golden(path: str) -> dict:
    with open(path) as fh:
        return canonicalize(json.load(fh))


def diff_golden(ours: Any, theirs: Any) -> str:
    a = json.dumps(ours, indent=1, sort_keys=True)
    b = json.dumps(theirs, indent=1, sort_keys=True)
    if a == b:
        return ""
    import difflib

    return "\n".join(
        difflib.unified_diff(b.splitlines(), a.splitlines(), "reference", "ours", lineterm="")
    )
